package graft.frontier

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.functions.GraftFunctions
import graft.table.SnapshotTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The URL-seen set: an exact key table (snapshot-committed parquet of
  * `url_hash: long`) fronted by a PARTITIONED Bloom filter — `ShardCount`
  * sidecar filters, shard = url_hash mod ShardCount.
  *
  * Scale shape (north rule "partitioned Bloom-filter URL-seen set"): at a
  * 10^10-key frontier a single 1%-fpp filter is ~12 GB — unbroadcastable.
  * Sharding bounds each sidecar to total/ShardCount and probes load only the
  * shards their rows touch through a per-executor cache ([[BloomProbe]]) —
  * no driver materialization, no broadcast.
  *
  * INCREMENTAL updates (the 100×-scale property): [[add]] commits only the
  * epoch's NEW keys as a delta snapshot ([[SnapshotTable.commitDelta]] —
  * Iceberg fast-append), builds the Bloom shards from the delta alone, and
  * bitwise-ORs them into the previous generation's sidecars. Per-epoch cost
  * is O(delta), independent of the accumulated key count; round 1's
  * read-union-distinct-rewrite of the whole table was O(total) per epoch and
  * would rewrite ~80 GB every epoch at 10^10 keys. Shard capacity is fixed at
  * first build (OR-merge requires identical bit geometry) and recorded in a
  * meta sidecar; when the accumulated count outgrows it (fpp past design) or
  * the delta chain gets long, [[add]] compacts: one full rewrite + fresh
  * shards at 4× the current size — amortized O(1) per key.
  *
  * Membership discipline (reference J1 exactness,
  * `db_containment_annotator_single.py:50-67`):
  *   - `mightContain == false` ⇒ definitely unseen → kept with NO exact work;
  *   - `mightContain == true` ⇒ maybe seen → confirmed by an exact
  *     `left_anti` join, so no URL is ever falsely dropped.
  *
  * Bloom sidecars are insert-only (epoch replays are no-ops). DELETION has
  * two granularities: whole-epoch rollback = snapshot-pointer flip
  * ([[rollbackTo]], sidecars are per-snapshot), and per-key [[retract]]
  * (failed-fetch retry / forced recrawl) = exact tombstone table + a
  * deletion-capable [[CuckooFilter]] sidecar probed by [[liveKeys]] — the
  * north rule's "falling back to cuckoo for deletions": re-adding a key
  * deletes its tombstone fingerprint in place, which a Bloom filter cannot.
  *
  * @param expectedKeys sizing hint for the first Bloom build; underestimating
  *        only triggers an earlier compaction, never wrong answers.
  * @param shardCount sidecar fan-out, a FIRST-BUILD parameter ([[ShardMeta]]):
  *        recorded under `root/snapshots/` at the first build and fixed for
  *        the root's life (merge geometry + file layout + probe routing all
  *        depend on it); on an existing root the recorded value wins and this
  *        argument is ignored. Size it to the deployment — shard-routed
  *        probing ([[filterUnseenRouted]]) runs one shard per task, so at
  *        cluster scale S should be ≥ the concurrent task slots you want the
  *        probe stage to use, and each task's resident filter bytes are
  *        `totalFilterBytes / S` (~750 MB at 10^10 keys with S=16; S=256
  *        brings it under 50 MB).
  * @param fpp Bloom false-positive rate, a FIRST-BUILD parameter like the
  *        fan-out (bit-array geometry must match for the parent-shard
  *        OR-merge): recorded in `bloom-meta.json`, recorded value wins on
  *        an existing root. The residency/confirm-work dial at scale —
  *        3% cuts resident filter bytes ~1.6× vs 1% at the cost of ~3× the
  *        exact-join confirms on unseen probes (measured: BASELINE.md
  *        round 5, "Bloom fpp sweep at 50M keys"; code in git history at
  *        `a799ee3`).
  */
final class SeenSet(root: String, spark: SparkSession,
    expectedKeys: Long = SeenSet.DefaultExpectedKeys,
    shardCount: Int = SeenSet.ShardCount,
    fpp: Double = SeenSet.DefaultFpp) {

  import SeenSet.MaxChainLength

  /** Effective fan-out: the recorded value for an existing root, the
    * constructor's for a root this instance is about to build. */
  private def S: Int =
    if (ShardMeta.isRecorded(root)) ShardMeta.countFor(root) else shardCount

  /** Effective fpp (recorded value wins, like [[S]]). */
  private def F: Double = recordedFpp.getOrElse(fpp)

  val table = new SnapshotTable(root, spark)

  /** Tombstones: keys retracted from the set (forced recrawl / failed-fetch
    * retry) until re-added. Exact membership lives in this snapshot table;
    * the fast probe is a SHARDED cuckoo sidecar per tombstone snapshot
    * (shard = url_hash mod ShardCount, same fan-out as the Bloom shards) —
    * deletion-capable, so a re-add removes the key's fingerprint in place
    * instead of rebuilding (a Bloom filter cannot delete). Tombstone sets
    * are usually epoch-delta sized, but `requeueFailures` retracts an
    * epoch's whole FAILED set and at 10^10-URL scale transient failures are
    * the norm — so the filters are BUILT ON EXECUTORS (one task per shard,
    * only serialized filter bytes ever reach the driver) and the exact
    * anti-join in [[liveKeys]] broadcasts only below a row-count threshold. */
  private val tombTable = new SnapshotTable(s"$root/tombstones", spark)
  private def tombRoot = s"$root/tombstones"

  private def bloomPath(id: Long, shard: Int) =
    Paths.get(root, "snapshots", s"bloom-v$id-s$shard.bin")
  private def metaPath = Paths.get(root, "snapshots", "bloom-meta.json")

  def isEmpty: Boolean = !table.exists

  /** Raw committed keys, INCLUDING retracted ones (the key table is
    * append-only; retraction is a tombstone). Effective membership is
    * [[liveKeys]]. */
  def keys(): DataFrame =
    if (table.exists) table.read().select(col("url_hash"))
    else spark.range(0).select(col("id").as("url_hash"))

  private def tombstoneCount: Long =
    tombTable.currentSnapshotId.flatMap(tombTable.manifest)
      .map(_.get("row_count").asLong).getOrElse(0L)

  /** Effective membership: committed keys minus tombstones. The cuckoo probe
    * gates the exact tombstone anti-join — a key the filter rejects is
    * definitely not retracted and pays no join work, so the common case
    * (zero or few tombstones) adds nothing to the keys scan. */
  def liveKeys(): DataFrame = {
    val k = keys()
    val tid = tombTable.currentSnapshotId
    if (tombstoneCount == 0L || tid.isEmpty) k
    else {
      // Broadcast the exact tombstone table only while it is genuinely
      // small; a mostly-failed epoch at 10^10-URL scale retracts ~10^8 rows,
      // which must shuffle, not broadcast (the guard ADVICE asked for).
      val raw = tombTable.read().withColumnRenamed("url_hash", "__tomb_hash")
      val tombs =
        if (tombstoneCount <= SeenSet.tombBroadcastMax(spark)) broadcast(raw) else raw
      if (SeenSet.cuckooShardsPresent(tombRoot, tid.get)) {
        GraftFunctions.register(spark)
        val probe = call_function("cuckoo_might_contain",
          col("url_hash"), lit(tombRoot), lit(tid.get))
        k.withColumn("__maybe_retracted", probe)
          .join(tombs,
            col("url_hash") === col("__tomb_hash") && col("__maybe_retracted"),
            "left_anti")
          .drop("__maybe_retracted")
      } else { // sidecar lost (crash between commit and write): exact-only path
        k.join(tombs, col("url_hash") === col("__tomb_hash"), "left_anti")
      }
    }
  }

  /** RETRACT keys from the seen set (north rule "falling back to cuckoo for
    * deletions"): the keys become unseen — eligible for rescheduling — until
    * re-[[add]]ed. Keys not currently in the set are ignored. The exact
    * tombstone set is committed as a snapshot; its cuckoo sidecar serves the
    * fast probe in [[liveKeys]]. Returns the tombstone snapshot id. */
  def retract(urlHashes: DataFrame, lineage: Map[String, String] = Map.empty): Long = {
    require(table.exists, "cannot retract from an empty seen set")
    val toRetract = urlHashes.select(col("url_hash")).distinct()
      .join(keys(), Seq("url_hash"), "left_semi")
    val combined =
      if (tombTable.exists) tombTable.read().unionByName(toRetract).distinct()
      else toRetract
    val tid = tombTable.commit(combined, lineage)
    writeCuckoo(tid)
    tid
  }

  /** Build + write the sharded cuckoo sidecar for tombstone snapshot `tid`.
    * Large sets (beyond [[SeenSet.cuckooDriverBuildMax]]) build AND WRITE
    * fully on executors — one task per shard, nothing filter-sized reaches
    * the driver; small sets (the episodic-retraction common case) skip the
    * job overhead and build on the driver from a BOUNDED collect. Both
    * paths sort keys within each shard first, so the sidecar bytes are
    * identical whichever path ran (spec-asserted at file level). */
  private def writeCuckoo(tid: Long): Unit = {
    val total = tombTable.manifest(tid).map(_.get("row_count").asLong).getOrElse(0L)
    val keysDf = tombTable.readAt(tid).select(col("url_hash"))
    if (total <= SeenSet.cuckooDriverBuildMax(spark)) {
      import spark.implicits._
      SeenSet.writeCuckooShardFiles(tombRoot, tid,
        SeenSet.buildCuckooShardsLocal(keysDf.as[Long].collect(), total, S))
    } else SeenSet.buildWriteCuckooShards(tombRoot, tid, keysDf, total, S)
  }

  /** Re-adding a retracted key clears its tombstone: the exact set shrinks
    * by an anti-join and the cuckoo sidecar DELETES the fingerprints in
    * place — the capability a Bloom filter lacks and the reason the
    * tombstone probe is a cuckoo filter, not a 17th Bloom shard. Each shard
    * with deletions is edited by its own executor task; untouched shards
    * are carried over byte-for-byte. Re-added keys never reach the driver. */
  private def clearTombstones(newKeys: DataFrame): Unit = {
    val oldTid = tombTable.currentSnapshotId
    if (tombstoneCount == 0L || oldTid.isEmpty) return
    // Pin reads to the CURRENT snapshot: the deletion job below runs after
    // the `remaining` commit, and an unpinned read() would re-resolve to the
    // new snapshot and delete nothing.
    val old = tombTable.readAt(oldTid.get)
    // persist: this frame feeds the emptiness check AND the shard-delete
    // job below — unpersisted it would rescan tombstones + newKeys per use
    val reAdded = old.join(newKeys, Seq("url_hash"), "left_semi")
      .select(col("url_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nReAdded = reAdded.count()
      if (nReAdded == 0L) return
      val remaining = old.join(newKeys, Seq("url_hash"), "left_anti")
      val oldCount = tombstoneCount
      val newTid = tombTable.commit(remaining,
        Map("cleared" -> nReAdded.toString))
      if (SeenSet.cuckooShardsPresent(tombRoot, oldTid.get)) {
        // small old filter + small deletion set: edit on the driver (bounded
        // reads); otherwise one executor task per shard, edits and carry-
        // overs written by the tasks themselves — end-to-end off-driver
        if (oldCount <= SeenSet.cuckooDriverBuildMax(spark)) {
          import spark.implicits._
          SeenSet.writeCuckooShardFiles(tombRoot, newTid,
            SeenSet.deleteFromCuckooShardsLocal(tombRoot, oldTid.get,
              reAdded.as[Long].collect(), S),
            carryOverFrom = Some(oldTid.get))
        } else SeenSet.deleteWriteCuckooShards(tombRoot, oldTid.get, newTid,
          reAdded, S)
      } else writeCuckoo(newTid)
    } finally reAdded.unpersist(blocking = false)
  }

  /** Per-shard Bloom capacity, fixed at first build (merge compatibility).
    * Format: JSON `{"per_shard":N,"shard_count":S,"fpp":F}`; a bare long is
    * the pre-shard-count legacy format (fan-out 16, fpp 1%). */
  private def bloomMeta: Option[com.fasterxml.jackson.databind.JsonNode] =
    if (Files.exists(metaPath)) {
      val s = new String(Files.readAllBytes(metaPath)).trim
      if (s.startsWith("{"))
        Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(s))
      else None
    } else None

  private def shardCapacity: Option[Long] =
    bloomMeta.map(_.get("per_shard").asLong).orElse {
      if (Files.exists(metaPath))
        Some(new String(Files.readAllBytes(metaPath)).trim.toLong)
      else None
    }

  private def recordedFpp: Option[Double] =
    bloomMeta.filter(_.has("fpp")).map(_.get("fpp").asDouble)

  private def writeShardCapacity(perShard: Long): Unit = {
    val tmp = Paths.get(root, "snapshots", "bloom-meta.json.tmp")
    Files.createDirectories(metaPath.getParent)
    Files.write(tmp, s"""{"per_shard":$perShard,"shard_count":$S,"fpp":$F}""".getBytes)
    Files.move(tmp, metaPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Add `urlHashes` (column `url_hash`) as a DELTA: keys already present are
    * filtered out (Bloom fast path + exact anti-join on the maybes), only new
    * keys are committed, and only they are hashed into the Bloom shards
    * (merged into the parent generation's sidecars). Idempotent under replay:
    * a replayed add contributes an empty delta. Returns the new snapshot id. */
  def add(urlHashes: DataFrame, lineage: Map[String, String] = Map.empty): Long = {
    val newKeys = urlHashes.select(col("url_hash")).distinct()
    if (!table.exists) {
      // first add: full commit + fresh shards; fix capacity for the chain
      val id = table.commit(newKeys, lineage)
      val n = table.manifest(id).map(_.get("row_count").asLong).getOrElse(0L)
      val perShard = math.max(1000L, math.max(expectedKeys, 4 * n) / S)
      writeShardCapacity(perShard)
      SeenSet.buildWriteShards(root, id, table.readAt(id), perShard,
        knownRows = n, shardCount = S, fpp = F)
      id
    } else {
      // a re-added retracted key just loses its tombstone (it is already in
      // the key table); afterwards filterUnseen sees it as seen again, so the
      // delta below holds only genuinely-new keys
      clearTombstones(newKeys)
      val delta = filterUnseen(newKeys)
      val id = table.commitDelta(delta, lineage)
      val m = table.manifest(id).get
      val total = m.get("row_count").asLong
      val chainLen = table.dataDirs(id).size
      val parent = m.get("parent_id").asLong
      val perShard = shardCapacity.getOrElse(
        math.max(1000L, math.max(expectedKeys, 4 * total) / S))
      val outgrown = total > perShard * S
      if (outgrown || chainLen > MaxChainLength || !shardsPresent(parent)) {
        // compaction (amortized O(1)/key): rewrite the chain into one dir and
        // rebuild shards at 4x the current size. Also the crash-recovery path
        // when the parent generation's sidecars are missing.
        val cid = table.commit(table.readAt(id),
          lineage + ("compaction" -> "true"))
        val newPerShard =
          if (outgrown) math.max(perShard, 4 * total / S)
          else perShard
        writeShardCapacity(newPerShard)
        SeenSet.buildWriteShards(root, cid, table.readAt(cid), newPerShard,
          knownRows = total, shardCount = S, fpp = F)
        cid
      } else {
        // delta-only Bloom build, reading back the just-committed delta files
        // (columnar longs — no recompute of the filter plan, no persist);
        // each shard task merges the parent generation's shard in place.
        // delta_rows (exact, from the manifest) routes tiny deltas — the
        // steady-state late-epoch case — to the bounded driver fast path.
        val deltaDir = m.get("data_dir").asText
        SeenSet.buildWriteShards(root, id, spark.read.parquet(deltaDir),
          perShard, mergeParentId = Some(parent),
          knownRows = m.get("delta_rows").asLong, shardCount = S, fpp = F)
        id
      }
    }
  }

  /** Expire old key-table and tombstone snapshots (storage maintenance; see
    * [[SnapshotTable.expireSnapshots]]). Safe for incremental adds with any
    * `keepLast >= 1`: [[add]] merges into the CURRENT generation's Bloom
    * sidecars, which expiry always retains. Rollback below the horizon is
    * gone by design. */
  def expire(keepLast: Int): Int =
    table.expireSnapshots(keepLast) +
      (if (tombTable.exists) tombTable.expireSnapshots(keepLast) else 0)

  /** Roll the seen set back to an earlier snapshot (epoch rollback). The
    * Bloom sidecars are per-snapshot, so the pointer flip restores the exact
    * earlier filters too — deletion without tombstones. */
  def rollbackTo(snapshotId: Long): Unit = {
    require(table.manifest(snapshotId).isDefined, s"no snapshot $snapshotId")
    val curTmp = Paths.get(root, "snapshots", "current.tmp")
    Files.write(curTmp, snapshotId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(curTmp, Paths.get(root, "snapshots", "current"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def shardsPresent(id: Long): Boolean =
    (0 until S).forall(s => Files.exists(bloomPath(id, s)))

  /** [[filterUnseen]] for a frontier the CALLER HAS PERSISTED (or that is
    * trivially cheap to recompute): additionally prunes the KEYS side of
    * the exact-confirm anti-join. One aggregate job over `frontier` counts
    * the Bloom maybes; when they fit the broadcast cap
    * (`graft.bcastMaybesMax`), the key table is semi-joined against the
    * BROADCAST maybes — at 10^10 keys the keys are then filtered in their
    * scan instead of exchanging every accumulated key each epoch (~80 GB).
    * The maybes branch re-reads `frontier`, which is why persistence is the
    * caller's contract: measured UNPERSISTED, the column-pruned branch
    * defeats ReuseExchange and re-executes the frontier's upstream
    * (120→301 s on a matched 4M pair — BASELINE.md negative result).
    * Oversized maybe sets (mass-revisit epochs) fall back to the unpruned
    * plan unchanged.
    *
    * `rowBound` — an upper bound on `frontier`'s row count KNOWN WITHOUT A
    * JOB (a snapshot manifest's exact row_count; never an optimizer
    * estimate): maybes ⊆ frontier, so a bound under the broadcast cap
    * proves the prune safe and the gating count job is skipped — one fewer
    * serial job on the per-epoch floor. The broadcast then materializes
    * the persisted frontier instead. */
  def filterUnseenPersisted(frontier: DataFrame,
      rowBound: Long = Long.MaxValue): DataFrame = {
    if (isEmpty) return frontier
    GraftFunctions.register(spark)
    table.currentSnapshotId match {
      case Some(id) if shardsPresent(id) =>
        // constraint_barrier: stops the optimizer transposing the probe onto
        // the key-table side through the joins' equalities (see the
        // [[ConstraintBarrier]] scaladoc — spec-pinned in FrontierSpec)
        val probe = call_function("constraint_barrier",
          call_function("bloom_might_contain",
            col("url_hash"), lit(root), lit(id)))
        val maybes = frontier.select(col("url_hash")).where(probe)
        val nMaybes =
          if (rowBound <= SeenSet.maybesBroadcastMax(spark)) rowBound
          else maybes.count()
        if (nMaybes <= SeenSet.maybesBroadcastMax(spark)) {
          val keysPruned = liveKeys().withColumnRenamed("url_hash", "__seen_hash")
            .join(broadcast(maybes), col("__seen_hash") === col("url_hash"),
              "left_semi")
          frontier.withColumn("__maybe_seen", probe)
            .join(keysPruned,
              col("url_hash") === col("__seen_hash") && col("__maybe_seen"),
              "left_anti")
            .drop("__maybe_seen")
        } else filterUnseen(frontier)
      case _ => filterUnseen(frontier)
    }
  }

  /** Rows of `frontier` whose `url_hash` is NOT in the seen set.
    *
    * Single pass over the frontier: the codegen'd [[BloomMightContain]] probe
    * is computed in the scan stage, and the exact anti-join's condition
    * requires it — rows failing the probe (definitely unseen) match nothing
    * and are kept with no comparison against the key table; only the maybes
    * (~fpp of the input + the truly seen) do exact work. Round 1's shape
    * (two complementary `udf` filters + union) scanned the frontier twice
    * and probed through an interpreted, boxing UDF. */
  def filterUnseen(frontier: DataFrame): DataFrame = {
    if (isEmpty) return frontier
    GraftFunctions.register(spark)
    table.currentSnapshotId match {
      case Some(id) if shardsPresent(id) =>
        // constraint_barrier: see filterUnseenPersisted — without it the
        // probe is inferred onto the key table's scan via the anti-join
        // equality (O(all keys ever) probes per epoch at scale)
        val probe = call_function("constraint_barrier",
          call_function("bloom_might_contain",
            col("url_hash"), lit(root), lit(id)))
        frontier.withColumn("__maybe_seen", probe)
          .join(liveKeys().withColumnRenamed("url_hash", "__seen_hash"),
            col("url_hash") === col("__seen_hash") && col("__maybe_seen"),
            "left_anti")
          .drop("__maybe_seen")
      case _ =>
        frontier.join(liveKeys(), Seq("url_hash"), "left_anti")
    }
  }

  /** [[filterUnseen]] with SHARD-ROUTED probing: the frontier is first
    * repartitioned so every task's rows probe exactly ONE Bloom shard
    * ([[ShardRoute.routeByShard]]) — per-task resident filter bytes drop
    * from the whole family (~12 GB at 10^10 keys) to one shard
    * (`totalBytes / shardCount`), and a byte-capped probe cache stops
    * thrashing because consecutive rows never alternate shards. Costs one
    * exchange of the frontier; identical output to [[filterUnseen]]
    * (routing only moves rows). The shape for residency-bound clusters —
    * pair it with a shardCount ≥ the probe stage's task-slot count at build
    * time. `slotsPerShard` spreads each shard over that many tasks
    * (parallelism = shardCount × slotsPerShard). */
  def filterUnseenRouted(frontier: DataFrame, slotsPerShard: Int = 1): DataFrame = {
    if (isEmpty) return frontier
    table.currentSnapshotId match {
      case Some(id) if shardsPresent(id) =>
        filterUnseen(ShardRoute.routeByShard(frontier, "url_hash", S, slotsPerShard))
      case _ => filterUnseen(frontier)
    }
  }
}

object SeenSet {

  /** DEFAULT shard fan-out for roots whose builder does not choose one (a
    * 10^10-key set at 1% fpp is ~750 MB/shard at 16). The real value is a
    * FIRST-BUILD PARAMETER (`SeenSet(shardCount = …)`, recorded per root by
    * [[ShardMeta]]): deployments that shard-route the probe size it to their
    * task-slot count instead. */
  val ShardCount: Int = 16

  /** Delta-chain length that triggers compaction (bounds per-read file-list
    * overhead and sidecar lineage). */
  val MaxChainLength: Int = 64

  /** Default first-build sizing hint (callers at larger scale pass their
    * own; outgrowing it only triggers compaction). */
  val DefaultExpectedKeys: Long = 4L * 1000 * 1000

  /** Default Bloom sidecar false-positive rate (a first-build parameter of
    * [[SeenSet]]; per-epoch schedule/image sidecars always use this). */
  val DefaultFpp: Double = 0.01

  def shardOf(h: Long, shardCount: Int): Int =
    (((h % shardCount) + shardCount) % shardCount).toInt

  /** Write Bloom shards as per-snapshot sidecars under `root/snapshots/`
    * (the layout [[BloomProbe]] reads and [[SnapshotTable.expireSnapshots]]
    * garbage-collects). */
  private[graft] def writeShardFiles(root: String, id: Long,
      blooms: Array[BloomFilter]): Unit =
    blooms.zipWithIndex.foreach { case (bf, shard) =>
      writeOneShard(root, id, shard, bf, tmpTag = "")
    }

  private def bloomShardPath(root: String, id: Long, shard: Int) =
    Paths.get(root, "snapshots", s"bloom-v$id-s$shard.bin")

  /** Atomic single-shard write. `tmpTag` uniquifies the tmp file so a
    * speculative duplicate task cannot race another attempt's tmp. */
  private def writeOneShard(root: String, id: Long, shard: Int,
      bf: BloomFilter, tmpTag: String): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val dest = bloomShardPath(root, id, shard)
    val tmp = Paths.get(root, "snapshots", s"bloom-v$id-s$shard.bin$tmpTag.tmp")
    Files.createDirectories(dest.getParent)
    Files.write(tmp, out.toByteArray)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Driver-build cap for Bloom sidecars, in KEYS of the build input (the
    * delta for incremental adds). Tiny builds skip distributed job overhead
    * entirely — collect the keys, edit on the driver. */
  private[graft] def bloomDriverBuildMax(spark: SparkSession): Long =
    graft.core.GraftConf.longKnob(spark,
      "graft.bloomDriverMax", "SPARK_GRAFT_BLOOM_DRIVER_MAX", 100000L)

  /** The driver fast path also READS filter-sized data (the parent shards it
    * merges into, or the fresh filters it allocates), so it is additionally
    * gated on shard capacity: past this the shards are executor-sized
    * objects and the build must stay distributed no matter how small the
    * delta. ~4M keys/shard ≈ 5 MB/shard at 1% fpp. */
  private val DriverShardCapacityMax = 4L * 1000 * 1000

  /** Build AND write the [[ShardCount]] Bloom shard sidecars for snapshot
    * `id` — the scale-correct replacement for `buildShards` + driver write:
    * keys shuffle to ONE TASK PER SHARD (8-byte longs are the only shuffle
    * payload), each task builds its shard at `perShard` capacity —
    * OR-merging `mergeParentId`'s same-capacity shard file when given, read
    * from the shared snapshot store exactly like the probe side
    * ([[BloomProbe]]) reads it — and writes its own sidecar file atomically.
    * Nothing filter-sized ever reaches the driver: the previous
    * treeReduce-of-filter-arrays build moved 16 × full-capacity partials
    * per map partition (~12 GB per partial at a 10^10-key set) through a
    * driver-side merge.
    *
    * Bit-identical on every path and at any parallelism: a Bloom filter's
    * bits are the OR-set of its keys' hash bits, so insertion order and
    * build placement cannot change the file bytes (asserted by spec).
    *
    * `knownRows` (an UPPER BOUND on `keysDf`'s rows, from a snapshot
    * manifest — never a count job) routes bounded builds to a driver fast
    * path: collect the keys, edit the 16 filters locally, skip the shuffle
    * — the per-epoch floor case (a tiny delta against a big set). */
  private[graft] def buildWriteShards(root: String, id: Long, keysDf: DataFrame,
      perShard: Long, mergeParentId: Option[Long] = None,
      knownRows: Long = Long.MaxValue,
      shardCount: Int = ShardCount,
      fpp: Double = DefaultFpp): Unit = {
    val spark = keysDf.sparkSession
    import spark.implicits._
    // the fan-out record must exist BEFORE any shard file: probes resolve
    // routing from it, and presence-of-all-shards implies presence-of-record
    ShardMeta.record(root, shardCount)
    if (knownRows <= bloomDriverBuildMax(spark) &&
        perShard <= DriverShardCapacityMax) {
      val keys = keysDf.select(col("url_hash")).as[Long].collect()
      val shards = Array.tabulate(shardCount)(s =>
        freshOrParentShard(root, mergeParentId, perShard, s, fpp))
      keys.foreach(h => shards(shardOf(h, shardCount)).putLong(h))
      writeShardFiles(root, id, shards)
    } else {
      // closure captures only plain values + object methods (a nested def
      // here would drag the whole method frame — SparkSession included —
      // into the task and fail serialization)
      val (rootC, idC, parentC, capC, sC, fppC) =
        (root, id, mergeParentId, perShard, shardCount, fpp)
      keysDf.select(col("url_hash")).as[Long].rdd
        .map(h => (shardOf(h, sC), h))
        .partitionBy(new ShardPartitioner(sC))
        .mapPartitionsWithIndex { (shard, it) =>
          val bf = freshOrParentShard(rootC, parentC, capC, shard, fppC)
          it.foreach { case (_, h) => bf.putLong(h) }
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(tc => s".a${tc.taskAttemptId()}").getOrElse("")
          writeOneShard(rootC, idC, shard, bf, tmpTag = attempt)
          Iterator.single(shard)
        }
        .collect()
    }
  }

  /** One shard's starting filter: the parent generation's same-capacity
    * shard read from the shared snapshot store, or a fresh filter. Called
    * from executor tasks (distributed build) and the driver fast path. */
  private def freshOrParentShard(root: String, parentId: Option[Long],
      perShard: Long, shard: Int, fpp: Double = DefaultFpp): BloomFilter =
    parentId match {
      case Some(pid) => BloomFilter.readFrom(new java.io.ByteArrayInputStream(
        Files.readAllBytes(bloomShardPath(root, pid, shard))))
      case None => BloomFilter.create(perShard, fpp)
    }

  private[graft] def shardFilesPresent(root: String, id: Long): Boolean =
    (0 until ShardMeta.countFor(root)).forall(s =>
      Files.exists(Paths.get(root, "snapshots", s"bloom-v$id-s$s.bin")))

  // --- sharded cuckoo sidecars (tombstone probe) ---------------------------

  /** Row-count cap for broadcasting the exact tombstone table in
    * [[SeenSet.liveKeys]]; beyond it the anti-join shuffles. */
  private[graft] def tombBroadcastMax(spark: SparkSession): Long =
    graft.core.GraftConf.longKnob(spark,
      "graft.bcastTombMax", "SPARK_GRAFT_BCAST_TOMB_MAX", 4000000L)

  /** Cap on broadcasting the frontier's Bloom-maybe hash set for the
    * keys-side prune in [[SeenSet.filterUnseenPersisted]]. */
  private[graft] def maybesBroadcastMax(spark: SparkSession): Long =
    graft.core.GraftConf.longKnob(spark,
      "graft.bcastMaybesMax", "SPARK_GRAFT_BCAST_MAYBES_MAX", 4000000L)

  private[graft] def cuckooShardPath(root: String, id: Long, shard: Int) =
    Paths.get(root, "snapshots", s"cuckoo-v$id-s$shard.bin")

  private[graft] def cuckooShardsPresent(root: String, id: Long): Boolean =
    (0 until ShardMeta.countFor(root)).forall(s =>
      Files.exists(cuckooShardPath(root, id, s)))

  /** Routes pre-computed shard ids to their own partition (identity map). */
  private final class ShardPartitioner(n: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Driver-build cap: tombstone sets at or under this row count build (and
    * edit) their cuckoo shards on the driver from a bounded collect —
    * episodic retraction is usually tiny and 3 extra Spark jobs dominate
    * the work; larger sets (a mostly-failed epoch) run distributed. */
  private[graft] def cuckooDriverBuildMax(spark: SparkSession): Long =
    graft.core.GraftConf.longKnob(spark,
      "graft.cuckooDriverMax", "SPARK_GRAFT_CUCKOO_DRIVER_MAX", 100000L)

  /** One shard's filter from ITS keys. Keys are sorted first so the filter
    * bits are identical at any parallelism and on either build path
    * (eviction order is insertion-order dependent). Saturation (dup-heavy
    * fingerprints) grows the shard and restarts its inserts. */
  private def buildShardFilter(keys: Array[Long], perShard: Long): Array[Byte] = {
    java.util.Arrays.sort(keys)
    var cf = CuckooFilter.forCapacity(math.max(perShard, keys.length.toLong))
    var i = 0
    while (i < keys.length) {
      if (!cf.insert(keys(i))) { cf = new CuckooFilter(cf.nBuckets * 2); i = -1 }
      i += 1
    }
    cf.serialize()
  }

  private def perShardCapacity(total: Long, shardCount: Int): Long =
    math.max(64L, 2L * total / shardCount)

  /** Build AND WRITE all [[ShardCount]] cuckoo shard sidecars for tombstone
    * snapshot `tid` on EXECUTORS: one task per shard builds its filter
    * (sorted inserts — parallelism-independent bytes) and writes its own
    * sidecar file atomically, the same write pattern as the Bloom
    * [[buildWriteShards]]. Nothing filter-sized reaches the driver — a
    * mostly-failed epoch at 10^10-URL scale retracts ~10^8 keys, whose 16
    * serialized filters would otherwise all pass through the driver. */
  private[graft] def buildWriteCuckooShards(root: String, tid: Long,
      keysDf: DataFrame, total: Long, shardCount: Int = ShardCount): Unit = {
    import keysDf.sparkSession.implicits._
    ShardMeta.record(root, shardCount)
    val perShard = perShardCapacity(total, shardCount)
    val sC = shardCount
    keysDf.select(col("url_hash")).as[Long].rdd
      .map(h => (shardOf(h, sC), h))
      .partitionBy(new ShardPartitioner(sC))
      .mapPartitionsWithIndex { (shard, it) =>
        writeOneCuckooShard(root, tid, shard,
          buildShardFilter(it.map(_._2).toArray, perShard))
        Iterator.single(shard)
      }.collect()
  }

  /** Driver-side twin of [[buildWriteCuckooShards]] for bounded key sets —
    * byte-identical output (same per-shard sorted insert order). */
  private[graft] def buildCuckooShardsLocal(keys: Array[Long], total: Long,
      shardCount: Int = ShardCount): Array[Array[Byte]] = {
    val perShard = perShardCapacity(total, shardCount)
    val byShard = Array.fill(shardCount)(new scala.collection.mutable.ArrayBuilder.ofLong)
    keys.foreach(h => byShard(shardOf(h, shardCount)) += h)
    byShard.map(b => buildShardFilter(b.result(), perShard))
  }

  /** Per-shard in-place DELETION of `delKeys` from snapshot `oldId`'s
    * sidecars: each shard with deletions is read, edited, and re-serialized
    * by its own executor task (shared-store sidecar files, same access
    * pattern as the probe side); shards without deletions return null and
    * are carried over by the writer. */
  private def deleteFromShardFile(root: String, oldId: Long, shard: Int,
      keys: Array[Long]): Array[Byte] = {
    java.util.Arrays.sort(keys)
    val cf = CuckooFilter.deserialize(
      Files.readAllBytes(cuckooShardPath(root, oldId, shard)))
    keys.foreach(cf.delete)
    cf.serialize()
  }

  /** Per-shard in-place deletion, executor-side end to end: shards with
    * deletions are read/edited/re-written by their own task; untouched
    * shards carry the old generation's bytes over verbatim. */
  private[graft] def deleteWriteCuckooShards(root: String, oldId: Long,
      newId: Long, delKeys: DataFrame, shardCount: Int = ShardCount): Unit = {
    import delKeys.sparkSession.implicits._
    val sC = shardCount
    delKeys.select(col("url_hash")).as[Long].rdd
      .map(h => (shardOf(h, sC), h))
      .partitionBy(new ShardPartitioner(sC))
      .mapPartitionsWithIndex { (shard, it) =>
        val keys = it.map(_._2).toArray
        val payload =
          if (keys.isEmpty) Files.readAllBytes(cuckooShardPath(root, oldId, shard))
          else deleteFromShardFile(root, oldId, shard, keys)
        writeOneCuckooShard(root, newId, shard, payload)
        Iterator.single(shard)
      }.collect()
  }

  /** Atomic single-shard cuckoo write; tmp uniquified per task attempt so a
    * speculative duplicate cannot race another attempt's tmp. */
  private def writeOneCuckooShard(root: String, id: Long, shard: Int,
      payload: Array[Byte]): Unit = {
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(tc => s".a${tc.taskAttemptId()}").getOrElse("")
    val dest = cuckooShardPath(root, id, shard)
    val tmp = Paths.get(root, "snapshots", s"cuckoo-v$id-s$shard.bin$attempt.tmp")
    Files.createDirectories(dest.getParent)
    Files.write(tmp, payload)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Driver-side twin of [[deleteWriteCuckooShards]] for bounded deletion
    * sets against a bounded old filter — byte-identical output. */
  private[graft] def deleteFromCuckooShardsLocal(root: String, oldId: Long,
      delKeys: Array[Long], shardCount: Int = ShardCount): Array[Array[Byte]] = {
    val byShard = Array.fill(shardCount)(new scala.collection.mutable.ArrayBuilder.ofLong)
    delKeys.foreach(h => byShard(shardOf(h, shardCount)) += h)
    byShard.zipWithIndex.map { case (b, shard) =>
      val keys = b.result()
      if (keys.isEmpty) null
      else deleteFromShardFile(root, oldId, shard, keys)
    }
  }

  /** Atomically write cuckoo shard sidecars for snapshot `id`. A null entry
    * carries the shard over from `carryOverFrom` byte-for-byte (the
    * untouched-shard fast path of the deletion edit). */
  private[graft] def writeCuckooShardFiles(root: String, id: Long,
      shards: Array[Array[Byte]], carryOverFrom: Option[Long] = None): Unit = {
    ShardMeta.record(root, shards.length)
    shards.zipWithIndex.foreach { case (bytes, shard) =>
      val dest = cuckooShardPath(root, id, shard)
      val tmp = Paths.get(root, "snapshots", s"cuckoo-v$id-s$shard.bin.tmp")
      Files.createDirectories(dest.getParent)
      val payload = bytes match {
        case null =>
          Files.readAllBytes(cuckooShardPath(root, carryOverFrom.get, shard))
        case b => b
      }
      Files.write(tmp, payload)
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
