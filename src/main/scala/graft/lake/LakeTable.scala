package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructType, TimestampType}
import graft.writer.BlockWriter

/** Minimal lake-table metadata layer over the BlockWriter layout —
  * the read-side half of the reference's write-side lake (reference
  * main.go:48-56 lays out partitioned, key-sorted, size-bounded
  * files; the manifest/snapshot metadata of its `iceberg-core`
  * dependency is what turns a file pile into a TABLE). Core
  * capabilities, reproduced honestly with no table-format dependency:
  *
  *  - '''Snapshots / time travel''': every commit writes an immutable
  *    part file (ITS added files/deletes + per-file column stats) and
  *    a manifest listing snapshot metadata plus the ordered part
  *    paths — the Iceberg manifest-list shape, so commit metadata IO
  *    is O(added + commits), never O(table files) — then atomically
  *    advances a snapshot pointer. Readers resolve a manifest, never
  *    a directory listing — commits are atomic (readers see the old
  *    or the new snapshot, nothing in between) and any historical
  *    snapshot stays readable.
  *  - '''Stats-based file pruning''': per-file min/max column stats
  *    (integer-valued AND string/timestamp columns) recorded at
  *    commit time let a reader skip every file whose value ranges
  *    cannot satisfy a predicate — the read-side payoff that Z-order
  *    clustering (zorder_layout) exists to maximize.
  *  - '''Optimistic concurrency with retry''': data files are staged
  *    under a commit-unique directory FIRST; only the manifest
  *    CREATE_NEW binds them to a snapshot id. A committer that loses
  *    the CAS re-resolves the head, re-validates its batch against
  *    the new parent (schema, inherited file list) and retries — so
  *    two concurrent appenders both land, in some serial order.
  *  - '''Merge-on-read DELETE''': a delete commit adds an equality-
  *    delete file (key values) to the manifest and rewrites NOTHING —
  *    readers probe the delete keys inside the scan (a shuffle
  *    anti-join for bulk deletes, whose size the manifest records)
  *    against data files committed before the delete
  *    (sequence-number ordering, the Iceberg v2 rule). At 100 TB this is the
  *    difference between a metadata-sized DELETE and a full rewrite;
  *    copy-on-write [[rewrite]] remains the compaction path that
  *    folds accumulated deletes back into data files.
  *
  * Data files are FLAT ([[BlockWriter.writeFlat]]): partition values
  * stay as table columns and layout is tracked only through the
  * manifest — the Iceberg model, where partitioning is metadata, not
  * directory names. At cluster scale the same manifests live on the
  * object store: staging dirs become object-key prefixes, the
  * manifest CREATE_NEW maps to a conditional-put / catalog CAS, and
  * the plans built on top are unchanged.
  */
object LakeTable {

  /** Per-file min/max for one column. `kind` is "i" (long-valued:
    * integers, timestamps as epoch micros, dates as epoch days), "s"
    * (strings, compared lexicographically) or "b" (bloom-only).
    * `bloom`, when non-empty, is a base64 [[java.util.BitSet]] — a
    * per-file membership filter for POINT predicates on columns whose
    * min/max are useless under the file's clustering (a
    * high-cardinality key scattered across every file spans the whole
    * domain in every file). Iceberg tracks the same thing as parquet
    * bloom filters / puffin blobs.
    */
  final case class ColStats(min: Long, max: Long, kind: String = "i",
      minS: String = "", maxS: String = "", bloom: String = "")

  /** Bloom geometry: m bits / k probes sized for maxRecordsPerFile ≈
    * 4096 rows (fp ≈ 0.2%; 8 KB per file per column). Positions are
    * md5-derived (the repo's oracle-determinism convention) so the
    * DRIVER can replay them for probe values without an engine round
    * trip; a production build would swap in xxhash64 on both sides.
    */
  private val BloomM = 1 << 16
  private val BloomK = 4

  private def bloomPosExpr(c: Column, i: Int): Column =
    pmod(conv(substring(md5(concat(c.cast("string"), lit(s":$i"))), 1, 15), 16, 10)
      .cast("bigint"), lit(BloomM.toLong))

  private def bloomPos(v: String, i: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$v:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % BloomM).toInt
  }

  /** May `v` be present in the file this bloom was built from? False
    * means DEFINITELY absent (prune); true is probabilistic.
    */
  def bloomMayContain(b64: String, v: String): Boolean = {
    val bits = java.util.BitSet.valueOf(java.util.Base64.getDecoder.decode(b64))
    (0 until BloomK).forall(i => bits.get(bloomPos(v, i)))
  }
  /** `seq` = snapshot id that ADDED the file (data sequence number):
    * equality deletes apply only to files with a strictly smaller seq.
    * `bytes` = on-disk size recorded at commit time so scan planning
    * (split sizing, join-side statistics) never stats the filesystem;
    * -1 on manifests written before the field existed. Every reader
    * takes a file's size from [[fileBytes]], which stats only those.
    */
  /** `bucket` = the hash-bucket every row of the file belongs to
    * (pmod(murmur3(partitionCol), nBuckets) — [[graft.writer.BlockWriter.writeFlat]]
    * co-locates each bucket on one write task, so a file never
    * straddles buckets), or -1 when unknown (range-clustered
    * rewrites, delta-written files). Recorded so scans can report
    * KeyGroupedPartitioning and joins of co-bucketed tables skip
    * both shuffles (storage-partitioned join).
    */
  final case class FileEntry(path: String, rows: Long, stats: Map[String, ColStats],
      seq: Int = 0, bytes: Long = -1L, bucket: Int = -1)
  /** A data file's on-disk size: the manifest's record, or a stat on
    * the driver for an entry written before sizes were recorded. The
    * one size source of the lake's scan.
    */
  private[graft] def fileBytes(f: FileEntry): Long =
    if (f.bytes >= 0) f.bytes
    else Files.size(Paths.get(new java.net.URI(f.path).getPath))

  /** A delete file; applies to data files with seq < this.seq.
    * `kind` "eq": parquet of distinct `keyCol` values (equality
    * delete). `kind` "pos": parquet of (path, idx) row coordinates
    * (positional delete — row-targeted, so it can remove ONE copy of
    * a duplicated key where an equality delete would remove all).
    */
  final case class DeleteEntry(path: String, keyCol: String, rows: Long, seq: Int,
      kind: String = "eq")
  /** `tsMs` = wall-clock commit time (metadata only — never query
    * output), enabling AS-OF-TIMESTAMP travel.
    */
  /** `bucketCol`/`nBuckets` = the table's current hash-bucket layout
    * spec (empty/0 when none or mixed): valid for storage-partitioned
    * planning only while EVERY live file carries a bucket id under
    * this spec.
    */
  final case class Manifest(snapshotId: Int, parentId: Int, files: Seq[FileEntry],
      deletes: Seq[DeleteEntry] = Nil, note: String = "", schemaJson: String = "",
      tsMs: Long = 0L, bucketCol: String = "", nBuckets: Int = 0) {
    /** The stored schema `schemaJson` records, parsed once; None on a
      * manifest that records none.
      */
    lazy val schema: Option[StructType] =
      if (schemaJson.isEmpty) None
      else Some(DataType.fromJson(schemaJson).asInstanceOf[StructType])
  }

  /** Bounded CAS retries for a commit racing other committers. */
  private val MaxCommitRetries = 20

  // ---------------- commit ----------------

  /** Append `df` as a new snapshot: stage a fresh file set under a
    * commit-unique `data/<token>/` dir, record per-file row counts
    * and min/max stats for `statCols`, then bind the staged files to
    * the next snapshot id with a CREATE_NEW manifest (retrying
    * against a re-resolved head on CAS loss). Returns the snapshot id.
    *
    * The stats scan reads back only what this commit staged (one
    * pass, grouped by file) — the Spark analog of a writer reporting
    * per-file stats to the table commit — and is scoped to the
    * staging dir, so a concurrent committer's files can never leak
    * into this commit's manifest.
    */
  def commit(spark: SparkSession, root: String, df: DataFrame,
      cfg: BlockWriter.Config, statCols: Seq[String],
      rangeCluster: Boolean = false, note: String = "",
      bloomCols: Seq[String] = Nil, skipIfEmpty: Boolean = false,
      clusterBy: Option[org.apache.spark.sql.Column] = None): Int = {
    val snap = writeSnapshot(spark, root, df, cfg, statCols, rangeCluster,
      replace = false, note = note, bloomCols = bloomCols,
      skipIfEmpty = skipIfEmpty, clusterBy = clusterBy)
    // post-commit, best-effort: declared TBLPROPERTIES maintenance
    // policies fire AFTER the append durably landed (AutoMaintain)
    AutoMaintain.afterCommit(spark, root)
    snap
  }

  /** Rewrite commit (copy-on-write maintenance): the new snapshot's
    * file list is EXACTLY the files written here — the parent's files
    * are retired from the current view but remain on disk and remain
    * referenced by earlier manifests, so time travel to pre-rewrite
    * snapshots keeps working. Accumulated equality deletes are folded
    * in (the rewrite reads the delete-applied view upstream) and the
    * new manifest carries none. This is the mechanism behind
    * compaction (same rows, fewer/bigger files) and copy-on-write
    * DELETE (same files minus the deleted rows).
    *
    * `basis` (when given) is the snapshot the rewritten content was
    * READ from: if the head moved past it by commit time (a
    * concurrent append landed), the rewrite would silently drop that
    * append's rows — so it fails with ConcurrentModificationException
    * instead, and the caller re-runs compaction on the new head
    * (Iceberg's REPLACE validation).
    */
  def rewrite(spark: SparkSession, root: String, df: DataFrame,
      cfg: BlockWriter.Config, statCols: Seq[String],
      rangeCluster: Boolean = false, basis: Option[Int] = None,
      clusterBy: Option[org.apache.spark.sql.Column] = None,
      note: String = ""): Int =
    writeSnapshot(spark, root, df, cfg, statCols, rangeCluster,
      replace = true, note = note, basis = basis, clusterBy = clusterBy)

  /** MoR-DEBT COMPACTION: fold every accumulated delete file back
    * into the data files. Reads the current delete-applied view and
    * commits it as a [[rewrite]] — the new snapshot's manifest lists
    * only the rewritten files and carries NO delete entries, so
    * subsequent reads are mask-free scans again. Basis-validated:
    * a concurrent append landing mid-compaction fails the commit
    * rather than being silently dropped. This is the maintenance
    * counterweight to [[deleteWhere]]/[[merge]]/[[deletePositions]]:
    * MoR keeps each DELETE metadata-sized; periodic folding bounds
    * the anti-join debt readers pay. Returns the new snapshot id.
    */
  def foldDeletes(spark: SparkSession, root: String,
      cfg: BlockWriter.Config, statCols: Seq[String],
      rangeCluster: Boolean = false,
      clusterBy: Option[org.apache.spark.sql.Column] = None): Int = {
    val head = currentSnapshot(root)
    rewrite(spark, root, read(spark, root, Some(head)), cfg, statCols,
      rangeCluster, basis = Some(head), clusterBy = clusterBy)
  }

  /** TRUNCATE: one metadata-only commit whose file list is empty —
    * no data IO at any table size. Previous snapshots stay readable
    * (time travel) until expiry reclaims them, like any rewrite.
    */
  def truncate(root: String): Int =
    casLoop(root, replace = true) { parent =>
      require(parent > 0, s"truncate of empty table $root")
      Manifest(parent + 1, parent, Nil, Nil, note = "truncate",
        schemaJson = manifest(root, parent).schemaJson)
    }

  /** ROLLBACK: restore the current view to snapshot `toSnap` as ONE
    * new commit whose manifest re-references the TARGET's immutable
    * part files — no data IO and O(1) new metadata at any table size.
    * History stays append-only: the rolled-past snapshots remain in
    * the log and time-travelable until expiry, and the rollback
    * itself is a snapshot (so it can in turn be rolled back). The
    * target's schema and bucket layout are restored with its files:
    * reads, pruning, and storage-partitioned planning behave exactly
    * as they did at `toSnap`.
    */
  def rollback(root: String, toSnap: Int): Int =
    casLoop(root, replace = true, partsFrom = Some((root, toSnap))) { parent =>
      require(toSnap >= 1 && toSnap <= parent,
        s"rollback target $toSnap outside [1, $parent] for $root")
      require(Files.exists(Paths.get(root, "meta", s"manifest-$toSnap.json")),
        s"rollback target $toSnap of $root is expired")
      val tm = manifest(root, toSnap)
      Manifest(parent + 1, parent, tm.files, tm.deletes,
        note = s"rollback-$toSnap", schemaJson = tm.schemaJson,
        bucketCol = tm.bucketCol, nBuckets = tm.nBuckets)
    }

  /** MANIFEST COMPACTION (Iceberg's `rewrite_manifests`): fold the
    * head's O(commits) part chain into ONE consolidated part — the
    * fully resolved live file inventory plus still-applicable deletes,
    * every entry keeping its ORIGINAL sequence number — committed as a
    * METADATA-ONLY snapshot. Zero data IO at any table size; after the
    * call, resolving the head costs one part read instead of one per
    * historical commit. This is the maintenance counterweight to the
    * manifest-list commit shape: a continuous streaming writer
    * (the reference flushes every MaxAge=60s, main.go:75-77) lands a
    * part per micro-batch — a month of per-minute commits is ~43k
    * parts walked per planning call until this folds them.
    *
    * Exactness across the boundary falls out of seq preservation: the
    * new snapshot ADDS nothing (no file carries its id), so history
    * accounting shows a pure maintenance commit, incremental ranges
    * spanning the call return exactly the pre-call answer, and the
    * changelog attributes ZERO rows to it (same file set, no new
    * deletes). Time travel to pre-compaction snapshots still resolves
    * through their own untouched manifests until expiry. Delete
    * entries that can no longer mask any live file (every live file's
    * seq >= the delete's) are dropped — the sequence rule makes them
    * dead weight readers would still anti-join.
    *
    * Idempotent: a head that is already one part with no dead deletes
    * returns unchanged, so a maintenance cron can fire blindly.
    */
  def rewriteManifests(root: String): Int = {
    val head = currentSnapshot(root)
    require(head > 0, s"rewrite_manifests on empty table $root")
    val hm = manifest(root, head)
    // `files.exists(_.seq < d.seq)` ⟺ `d.seq > min file seq`, so one
    // precomputed min keeps the liveness filter O(deletes + files)
    // instead of O(deletes × files) on a 100k-file manifest
    def live(deletes: Seq[DeleteEntry], files: Seq[FileEntry]) = {
      val minSeq = if (files.isEmpty) Long.MaxValue else files.map(_.seq).min
      deletes.filter(_.seq > minSeq)
    }
    val liveDeletes = live(hm.deletes, hm.files)
    if (rawParts(root, head).size == 1 && liveDeletes.size == hm.deletes.size)
      return head
    casLoop(root, consolidate = true) { parent =>
      val pm = manifest(root, parent)
      pm.copy(snapshotId = parent + 1, parentId = parent,
        deletes = live(pm.deletes, pm.files),
        note = "rewrite-manifests")
    }
  }

  // ---------------- branches (write-audit-publish) ----------------

  /** FORK the table into a named BRANCH: a child table at
    * `root/branches/<name>` whose first snapshot re-references the
    * head's part files — O(1) metadata, zero data IO. The branch is a
    * full lake table (commits, deletes, merges, time travel all work
    * against it via [[branchRoot]]); its staged data lands under the
    * branch's own data dir, and the fork basis is recorded for
    * [[publishBranch]]'s fast-forward validation. This is the
    * write-audit-publish shape: land risky data on the branch, run
    * audits against it, then publish atomically — readers of `root`
    * never see unaudited rows.
    */
  def branch(root: String, name: String): Int = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid branch name '$name'")
    val head = currentSnapshot(root)
    require(head > 0, s"branch of empty table $root")
    val bRoot = branchRoot(root, name)
    require(currentSnapshot(bRoot) == 0, s"branch '$name' already exists on $root")
    val bMeta = Paths.get(bRoot, "meta")
    Files.createDirectories(bMeta)
    Files.writeString(bMeta.resolve("_fork.json"), s"""{"basis":$head}""")
    // the branch chain CONTINUES the parent's snapshot numbering: the
    // fork is a verbatim copy of the head manifest (same id, same
    // parts, same file seqs), and branch commits land at head+1,
    // head+2, … — so sequence-number semantics (MoR delete scoping,
    // incremental ranges, history accounting) are EXACT across the
    // fork, and publish can replay branch commits onto main under
    // their own ids. Restarting at 1 instead would make inherited
    // seq-k files collide with branch snapshot k (deletes silently
    // mis-scoped on any fork from head ≥ 2).
    try
      Files.copy(Paths.get(root, "meta", s"manifest-$head.json"),
        bMeta.resolve(s"manifest-$head.json")): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(s"branch '$name' raced its own creation")
    }
    coordinator.advanceHead(bMeta, head)
    head
  }

  /** A branch's table root — pass to any LakeTable API to operate on
    * the branch.
    */
  def branchRoot(root: String, name: String): String =
    s"$root/branches/$name"

  /** All branches of `root` with their fork bases and heads. */
  def branches(root: String): Map[String, (Int, Int)] = {
    val d = Paths.get(root, "branches")
    if (!Files.isDirectory(d)) Map.empty
    else {
      val st = Files.list(d)
      try asScala(st.iterator())
        .filter(p => Files.isDirectory(p.resolve("meta")))
        .map { p =>
          val name = p.getFileName.toString
          name -> (forkBasis(p.toString), currentSnapshot(p.toString))
        }.toMap
      finally st.close()
    }
  }

  private def forkBasis(bRoot: String): Int = {
    val p = Paths.get(bRoot, "meta", "_fork.json")
    if (!Files.exists(p)) 0
    else mapper.readTree(Files.readString(p)).get("basis").asInt()
  }

  /** PUBLISH a branch: fast-forward `root` by REPLAYING the branch's
    * commits onto the main chain — each branch manifest (basis+1 …
    * branch head) lands on main under ITS OWN snapshot id as an
    * O(1)-metadata CAS-validated copy re-referencing the branch's
    * part files. Because ids and sequence numbers are preserved
    * verbatim (the fork continued the parent's numbering), MoR delete
    * scoping, incremental ranges, streaming exactly-once, and history
    * accounting on main are EXACTLY what a reader of the branch saw —
    * no remapping, no data IO. The branch's staged files become
    * reachable from main, which is why [[dropBranch]] refuses to
    * delete a published branch's directory.
    *
    * Concurrency: each replayed commit CAS-requires main's head to be
    * its parent, so a concurrent main commit fails the replay with
    * ConcurrentModificationException at that point — the
    * already-replayed prefix is a consistent fast-forward (each copied
    * manifest is a complete valid commit); re-branch from the new
    * head to continue.
    */
  def publishBranch(root: String, name: String): Int = {
    val bRoot = branchRoot(root, name)
    val bHead = currentSnapshot(bRoot)
    require(bHead > 0, s"no branch '$name' on $root")
    val basis = forkBasis(bRoot)
    require(bHead > basis, s"branch '$name' has no commits to publish")
    ((basis + 1) to bHead).foreach { k =>
      val bm = manifest(bRoot, k)
      casLoop(root, replace = true, partsFrom = Some((bRoot, k))) { parent =>
        if (parent != k - 1)
          throw new java.util.ConcurrentModificationException(
            s"branch '$name' commit $k expects main head ${k - 1} but found " +
              s"$parent; re-branch from the head and replay")
        bm
      }: Unit
    }
    bHead
  }

  /** WRITE-AUDIT-PUBLISH DIFF — "what would publishing `name` change
    * on main": the NET row-level changes the branch accumulated since
    * its fork, with `_change_type` ('insert' | 'delete') and multiset
    * multiplicity. Computed from the branch's OWN changelog over
    * (basis, head] folded by sign — O(branch work), never a
    * two-head corpus diff: the fork shares main's basis manifest by
    * construction, so the signed fold IS the main-vs-branch multiset
    * difference, and churn inside the branch (a row added then
    * rejected by the audit) cancels to zero rows. Requires main
    * unchanged since the fork — the same invariant publish itself
    * CAS-validates; a moved main head gets a pointed error, not a
    * stale answer.
    */
  def branchDiff(spark: SparkSession, root: String, name: String): DataFrame = {
    val bRoot = branchRoot(root, name)
    val bHead = currentSnapshot(bRoot)
    require(bHead > 0, s"no branch '$name' on $root")
    val basis = forkBasis(bRoot)
    val mainHead = currentSnapshot(root)
    require(mainHead == basis,
      s"main advanced to $mainHead since branch '$name' forked at $basis — " +
        "the diff would be stale; re-branch from the head and replay")
    val cl = changelogRead(spark, bRoot, basis, bHead)
    val dataCols = cl.columns.filterNot(c => c == "_change_type" || c == "_change_snap").toSeq
    val net = cl
      .withColumn("__sign",
        when(col("_change_type") === "insert", 1L).otherwise(-1L))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("__sign")).as("__net"))
      .filter(col("__net") =!= 0L)
    // restore multiset multiplicity (|net| copies) and the verb
    net.select(dataCols.map(col) :+
        when(col("__net") > 0, "insert").otherwise("delete").as("_change_type") :+
        explode(sequence(lit(1L), abs(col("__net")))).as("__i"): _*)
      .drop("__i")
  }

  /** Drop a branch. Refuses (unless the branch was never published)
    * to remove a directory whose data files the MAIN chain still
    * references — a published branch's files are part of the table.
    */
  def dropBranch(root: String, name: String): Boolean = {
    val bRoot = branchRoot(root, name)
    val d = Paths.get(bRoot)
    if (!Files.isDirectory(d)) return false
    val bPath = d.toAbsolutePath.normalize
    require(!chainReferences(root, bPath),
      s"branch '$name' was published: its files are live in $root — " +
        "expire the referencing snapshots before dropping the branch")
    val walk = Files.walk(d)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p): Unit })
    finally walk.close()
    true
  }

  /** Does `chainRoot`'s surviving history reference any data/delete
    * file or metadata part under `subtree`? A published branch is live
    * in main through BOTH its data/delete files and its metadata parts
    * (the replayed manifests re-reference the branch's parts).
    */
  private def chainReferences(chainRoot: String, subtree: Path): Boolean =
    (1 to currentSnapshot(chainRoot))
      .filter(i => Files.exists(Paths.get(chainRoot, "meta", s"manifest-$i.json")))
      .exists { i =>
        val m = manifest(chainRoot, i)
        val files = (m.files.map(_.path) ++ m.deletes.map(_.path))
          .map(p => Paths.get(new java.net.URI(p).getPath))
        val parts = rawParts(chainRoot, i).map(p => Paths.get(p))
        (files ++ parts).exists(_.toAbsolutePath.normalize.startsWith(subtree))
      }

  /** If `root` is a branch root (`<parent>/branches/<name>`), the
    * parent chain's root.
    */
  private def parentChainOf(root: String): Option[String] = {
    val p = Paths.get(root).toAbsolutePath.normalize
    Option(p.getParent)
      .filter(par => Option(par.getFileName).exists(_.toString == "branches"))
      .flatMap(par => Option(par.getParent).map(_.toString))
  }

  /** Merge-on-read DELETE: commit `keys` (one column, the equality
    * key) as a delete file — NO data files are written or rewritten.
    * Readers of this and later snapshots anti-join the keys against
    * data files older than this commit; a later append may re-insert
    * a deleted key and is unaffected (sequence-number rule). Returns
    * the snapshot id.
    */
  def deleteWhere(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame, note: String = ""): Int = {
    // delete entries key by PHYSICAL name: parts are immutable and
    // shared across manifests, so a later rename must not have to
    // rewrite them (physical names never change once stamped)
    val physKc = storedSchemaOf(root).filter(ColumnMapping.hasMapping)
      .flatMap(s => ColumnMapping.toPhysical(s).get(keyCol)).getOrElse(keyCol)
    val (_, entries) = stageDeleteFrame(spark, root,
      keys.select(col(keyCol).as(physKc)).distinct(), shuffled = true)
    casLoop(root) { parent =>
      val pm = if (parent > 0) Some(manifest(root, parent)) else None
      require(pm.nonEmpty, s"deleteWhere on empty table $root")
      val snap = parent + 1
      Manifest(snap, parent, pm.get.files,
        pm.get.deletes ++ entries.map { case (p, n) => DeleteEntry(p, physKc, n, snap) },
        note = note, schemaJson = pm.get.schemaJson,
        bucketCol = pm.get.bucketCol, nBuckets = pm.get.nBuckets)
    }
  }

  /** Merge-on-read UPSERT (MERGE INTO, the Iceberg v2 write shape):
    * ONE atomic commit that adds `updates` as new data files AND an
    * equality-delete file of their keys. The sequence rule does the
    * rest — the delete (seq = this commit) masks matching rows only
    * in OLDER files, never in the rows added here — so readers see
    * exactly "old minus updated keys, plus updates", and nothing is
    * rewritten. Compaction ([[rewrite]]) later folds the masks in.
    */
  /** `extraDeleteKeys`: additional equality-delete key values folded
    * into the SAME atomic commit's delete file (beyond the updates'
    * own keys) — the upsert-and-retire shape incremental MV folds
    * need: changed groups re-land as data files while vanished groups
    * retire via the delete mask, one commit, nothing rewritten.
    *
    * `deleteKeysCoverUpdates = true` is the caller's guarantee that
    * `extraDeleteKeys` already contains every key in `updates` (true
    * for every MV fold: the touched-cell mask is a superset of the
    * surviving cells by construction). The mask then stages from the
    * extra keys ALONE — `updates` is consumed exactly once, by the
    * data write — and an `updates` frame that stages EMPTY commits as
    * a pure-mask delete (every touched key retired), which lets the
    * folds drop their pre-commit `isEmpty` probe (one fewer action
    * per refresh; the emptiness verdict falls out of the staged
    * files' own footer row counts).
    */
  def merge(spark: SparkSession, root: String, keyCol: String,
      updates: DataFrame, cfg: BlockWriter.Config,
      statCols: Seq[String], note: String = "",
      extraDeleteKeys: Option[DataFrame] = None,
      deleteKeysCoverUpdates: Boolean = false): Int = {
    val reservedM = updates.schema.fieldNames.filter(n => n == CoordPath || n == CoordIdx)
    require(reservedM.isEmpty,
      s"table columns ${reservedM.mkString(", ")} collide with the reserved " +
        "row-coordinate names; rename them before committing")
    // column mapping: staged files and delete keys use PHYSICAL names
    val parentMapped = storedSchemaOf(root).filter(ColumnMapping.hasMapping)
    val physMap = parentMapped.map(ColumnMapping.toPhysical).getOrElse(Map.empty)
    def phys(c: String) = physMap.getOrElse(c, c)
    val updW =
      if (parentMapped.isEmpty) updates
      else updates.select(updates.columns.toIndexedSeq.map(c => col(c).as(phys(c))): _*)
    val cfgW =
      if (parentMapped.isEmpty) cfg
      else cfg.copy(partitionCol = phys(cfg.partitionCol), keyCol = phys(cfg.keyCol))
    val dataStaging = stagingDir(root)
    val delPayload0 =
      if (deleteKeysCoverUpdates)
        extraDeleteKeys.get.select(col(keyCol).as(phys(keyCol))).distinct()
      else {
        val delKeys0 = updates.select(col(keyCol).as(phys(keyCol)))
        extraDeleteKeys
          .map(k => delKeys0.unionByName(k.select(col(keyCol).as(phys(keyCol)))))
          .getOrElse(delKeys0).distinct()
      }
    // a writeTasks-hinted merge DECLARES its payload metadata-scale
    // (touched-lead-count bounded): pin its mask to one task/file
    // up front — deterministic layout however the concurrent data
    // write flips the session's AQE flag (the mask of a bulk merge
    // keeps the AQE-sized fan-out)
    val delPayload =
      if (cfg.writeTasks.isDefined) delPayload0.coalesce(1) else delPayload0
    // the data staging and the mask staging share no lineage barrier
    // — run them as concurrent jobs (guide §2.6) so the mask write's
    // scheduling rides the data write's tail instead of serializing
    // after it; one mask job per commit is pure fixed cost at any
    // scale
    val delFut = scala.concurrent.Future {
      SparkSession.setActiveSession(spark)
      stageDeleteFrame(spark, root, delPayload, shuffled = true)
    }(stagingEc)
    val mergeSpec = Some((cfg.partitionCol, cfg.parallelism
      .getOrElse(spark.sessionState.conf.numShufflePartitions)))
    // zero-row staged files carry no rows and no usable stats — keep
    // them out of the manifest (an all-empty staging = pure-mask
    // commit: only the delete entries land)
    val entries =
      try {
        BlockWriter.writeFlat(updW, dataStaging, cfgW)
        scanStats(spark, dataStaging, updW, statCols.map(phys),
          bucketOf = mergeSpec.map { case (c, n) => (phys(c), n) })
          .filter(_.rows > 0L)
      } catch { case e: Throwable =>
        // a failed data staging must not leave the mask write running
        // behind it — drain the future (its own failure is secondary)
        try scala.concurrent.Await.ready(delFut,
          scala.concurrent.duration.Duration.Inf): Unit
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
        throw e
      }
    val (_, delEntries) = scala.concurrent.Await.result(delFut,
      scala.concurrent.duration.Duration.Inf)
    val mergeSnap = casLoop(root) { parent =>
      require(parent > 0, s"merge into empty table $root")
      val pm = manifest(root, parent)
      pm.schema.foreach { expectS =>
        if (ColumnMapping.hasMapping(expectS) || parentMapped.isDefined) {
          if (parentMapped.map(ColumnMapping.toPhysical).getOrElse(Map.empty) !=
              ColumnMapping.toPhysical(expectS))
            throw new java.util.ConcurrentModificationException(
              s"column mapping of $root changed while this merge was " +
                "staging; re-run against the current head")
          val live = ColumnMapping.logicalClean(expectS)
          require(live.fields.map(f => (f.name, f.dataType)).toSeq ==
            updates.schema.fields.map(f => (f.name, f.dataType)).toSeq,
            s"merge schema mismatch for $root: table has ${live.json}, " +
              s"updates have ${updates.schema.json}")
        } else {
          // name + type only, like the mapped branch above: the
          // manifest keeps the PARENT's schema (nullability included)
          // regardless, so a fold frame whose aggregates are nullable
          // where the table's column is not needs no re-stamp — the
          // rdd round-trips / .to() reconciles the callers paid just
          // to match nullability were pure overhead
          require(expectS.fields.map(f => (f.name, f.dataType)).toSeq ==
            updates.schema.fields.map(f => (f.name, f.dataType)).toSeq,
            s"merge schema mismatch for $root: table has ${pm.schemaJson}, " +
              s"updates have ${updates.schema.json}")
        }
      }
      val snap = parent + 1
      val (bCol, bN) =
        if (mergeSpec.contains((pm.bucketCol, pm.nBuckets))) (pm.bucketCol, pm.nBuckets)
        else ("", 0)
      Manifest(snap, parent,
        pm.files ++ entries.map(_.copy(seq = snap)),
        pm.deletes ++ delEntries.map { case (p, n) => DeleteEntry(p, phys(keyCol), n, snap) },
        note = note, schemaJson = pm.schemaJson, bucketCol = bCol, nBuckets = bN)
    }
    AutoMaintain.afterCommit(spark, root)
    mergeSnap
  }

  /** PREDICATE OVERWRITE (Delta's `replaceWhere` / Iceberg's
    * overwrite-by-filter — the atomic BACKFILL verb): replace exactly
    * the rows inside the given stat bounds with `df`, in ONE commit.
    * The bounds define both the file-selection predicate AND the row
    * predicate, so the two can never disagree: files whose manifest
    * stats can't intersect the box are KEPT BY REFERENCE (zero IO,
    * zero metadata rewrite — the commit inherits the parent's parts
    * and tombstones only the replaced paths, O(touched + new)
    * metadata); files that might intersect are rewritten WITHOUT
    * their in-box rows (their applicable MoR delete masks fold in).
    * Incoming rows must all fall inside the box (the replaceWhere
    * contract — a row outside would silently survive alongside its
    * old version otherwise). Basis-validated like [[rewrite]]: a
    * concurrent commit landing mid-staging fails this one. At 100 TB,
    * re-crawling one day of an events table is: stage the day,
    * `overwriteWhere(ts-day-bounds, newDay)` — cost proportional to
    * that day's files, atomic, time-travelable.
    * Bounds use stat units (timestamps as epoch micros, dates as
    * epoch days — [[prunedRead]]'s convention).
    */
  def overwriteWhere(spark: SparkSession, root: String,
      bounds: Map[String, (Long, Long)],
      df: DataFrame, cfg: BlockWriter.Config, statCols: Seq[String],
      strBounds: Map[String, (String, String)] = Map.empty,
      rangeCluster: Boolean = false): Int = {
    require(bounds.nonEmpty || strBounds.nonEmpty,
      "overwriteWhere needs at least one bound (an unbounded overwrite is rewrite())")
    val reservedO = df.schema.fieldNames.filter(n => n == CoordPath || n == CoordIdx)
    require(reservedO.isEmpty,
      s"table columns ${reservedO.mkString(", ")} collide with the reserved " +
        "row-coordinate names; rename them before committing")
    val basis = currentSnapshot(root)
    require(basis > 0, s"overwriteWhere on empty table $root")
    val m = manifest(root, basis)
    val stored = m.schema
    stored.foreach { st =>
      val live = ColumnMapping.logicalClean(st)
      require(live.fields.map(f => (f.name, f.dataType)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
        s"overwrite schema mismatch for $root: table has ${live.json}, " +
          s"frame has ${df.schema.json}")
    }
    val physMap = stored.filter(ColumnMapping.hasMapping)
      .map(ColumnMapping.toPhysical).getOrElse(Map.empty)
    def phys(c: String) = physMap.getOrElse(c, c)
    val touched = filesMatching(m.files,
      bounds.map { case (k, v) => phys(k) -> v },
      strBounds.map { case (k, v) => phys(k) -> v }, Map.empty)
    val touchedPaths = touched.map(_.path)
    def box(d: DataFrame): Column = {
      val schema = d.schema
      def rowExpr(c: String): Column = schema(c).dataType match {
        case TimestampType => unix_micros(col(c))
        case DateType => datediff(col(c), to_date(lit("1970-01-01"))).cast("bigint")
        case _ => col(c)
      }
      (bounds.map { case (c, (lo, hi)) => rowExpr(c) >= lo && rowExpr(c) <= hi } ++
        strBounds.map { case (c, (lo, hi)) => col(c) >= lo && col(c) <= hi })
        .reduce(_ && _)
    }
    val nOutside = df.filter(!box(df)).count()
    require(nOutside == 0L,
      s"$nOutside incoming rows fall outside the overwrite bounds — " +
        "widen the bounds or filter the frame")
    // survivors: the touched files' LIVE rows outside the box. Their
    // applicable delete masks fold in here; the staged files carry
    // seq = this commit, so older deletes no longer apply to them.
    val newData =
      if (touched.isEmpty) df
      else {
        val base = readFiles(spark, root, m, touched)
        base.filter(!box(base)).unionByName(df)
      }
    val ndW =
      if (physMap.isEmpty) newData
      else newData.select(newData.columns.toIndexedSeq.map(c => col(c).as(phys(c))): _*)
    val cfgW =
      if (physMap.isEmpty) cfg
      else cfg.copy(partitionCol = phys(cfg.partitionCol), keyCol = phys(cfg.keyCol))
    val staging = stagingDir(root)
    BlockWriter.writeFlat(ndW, staging, cfgW, rangeCluster)
    val entries = scanStats(spark, staging, ndW, statCols.map(phys))
    casLoop(root, removed = touchedPaths) { parent =>
      if (parent != basis)
        throw new java.util.ConcurrentModificationException(
          s"overwriteWhere of $root based on snapshot $basis but head is " +
            s"$parent; re-run against the current head")
      val snap = parent + 1
      val touchedSet = touchedPaths.toSet
      val kept = m.files.filterNot(f => touchedSet.contains(f.path))
      // kept files keep their bucket labels, but the staged files are
      // writer-distributed — a mixed inventory retires the SPJ spec
      Manifest(snap, parent, kept ++ entries.map(_.copy(seq = snap)),
        m.deletes, note = "overwrite-where", schemaJson = m.schemaJson)
    }
  }

  /** POSITIONAL merge-on-read DELETE (Iceberg v2's second delete
    * mode): `positions` is a ([[CoordPath]], [[CoordIdx]]) frame of
    * row coordinates — obtain it by filtering a [[withRowCoords]]
    * read. Row-targeted, so it deletes exactly the addressed rows:
    * one copy of a duplicated key survives where an equality delete
    * would drop every copy. Commits only the (small) coordinate file;
    * no data files are written or rewritten.
    */
  def deletePositions(spark: SparkSession, root: String,
      positions: DataFrame): Int = {
    val (staging, entries) = stageDeleteFrame(spark, root,
      positions.select(col(CoordPath), col(CoordIdx)))
    // data files the coordinates address (file-count-bounded)
    val referenced = spark.read.parquet(staging).select(col(CoordPath))
      .distinct().collect().map(_.getString(0)).toSet
    casLoop(root) { parent =>
      require(parent > 0, s"deletePositions on empty table $root")
      val pm = manifest(root, parent)
      // Coordinates are PATH-BOUND: if a concurrent rewrite retired
      // any addressed file by commit time, applying this delete would
      // silently no-op on the rewritten rows — fail it instead, like
      // rewrite's own basis validation (the caller re-derives
      // coordinates against the new head and retries).
      val live = pm.files.map(_.path).toSet
      val dangling = referenced -- live
      if (dangling.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"positional delete addresses ${dangling.size} file(s) no longer " +
            s"in $root's head snapshot (a rewrite landed); re-derive the " +
            "coordinates against the current head")
      val snap = parent + 1
      Manifest(snap, parent, pm.files,
        pm.deletes ++ entries.map { case (p, n) =>
          DeleteEntry(p, "", n, snap, kind = "pos") },
        note = "", schemaJson = pm.schemaJson,
        bucketCol = pm.bucketCol, nBuckets = pm.nBuckets)
    }
  }

  /** DELETION-VECTOR positional delete (the Iceberg v3 / Delta
    * deletion-vector shape): the same row-coordinate semantics as
    * [[deletePositions]], but the payload is ONE PER-FILE BITMAP
    * ([[java.util.BitSet]] bytes, base64 in a JSON sidecar) instead of
    * a (path, row_idx) row set — O(files × rowsPerFile/8) bytes on
    * disk and in memory regardless of how many rows are deleted,
    * where the positional payload and its read-side hash-set join are
    * row-proportional (a 1%-of-100-TB delete is ~10⁹ coordinate
    * rows). The read side masks each dirty file with a broadcast
    * byte-array lookup plus an O(1) bit probe
    * ([[graft.functions.DvContains]], codegen'd) — no hash set, no
    * shuffle. Row-targeted like any positional delete: one copy of a
    * duplicated key survives. Same snapshot-isolation rule as
    * [[deletePositions]]: fails if a rewrite retired an addressed
    * file.
    */
  def deletePositionsDv(spark: SparkSession, root: String,
      positions: DataFrame): Int = {
    import spark.implicits._
    // one shuffle on the file path; bitmaps built executor-side and
    // collected at O(files) entries of ≤ rowsPerFile/8 bytes each —
    // driver memory is file-count-bounded, never row-proportional
    val perFile: Array[(String, String, Long)] = positions
      .select(col(CoordPath).cast("string"), col(CoordIdx).cast("bigint"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (p, it) =>
        val bs = new java.util.BitSet()
        var n = 0L
        it.foreach { case (_, i) =>
          require(i >= 0 && i <= Int.MaxValue,
            s"row index $i of $p outside deletion-vector range")
          if (!bs.get(i.toInt)) n += 1
          bs.set(i.toInt)
        }
        (p, java.util.Base64.getEncoder.encodeToString(bs.toByteArray), n)
      }.collect().sortBy(_._1)
    require(perFile.nonEmpty, "deletePositionsDv with no positions")
    val staging = stagingDir(root)
    Files.createDirectories(Paths.get(staging))
    val body = perFile.map { case (p, b64, _) => s""""${esc(p)}":"$b64"""" }
      .mkString("{", ",", "}")
    val dvFile = Paths.get(staging, "dv.json")
    Files.writeString(dvFile, body, java.nio.file.StandardOpenOption.CREATE_NEW)
    val dvPath = metadataPathString(dvFile)
    val rows = perFile.map(_._3).sum
    val referenced = perFile.map(_._1).toSet
    casLoop(root) { parent =>
      require(parent > 0, s"deletePositionsDv on empty table $root")
      val pm = manifest(root, parent)
      val live = pm.files.map(_.path).toSet
      val dangling = referenced -- live
      if (dangling.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"deletion vector addresses ${dangling.size} file(s) no longer " +
            s"in $root's head snapshot (a rewrite landed); re-derive the " +
            "coordinates against the current head")
      val snap = parent + 1
      Manifest(snap, parent, pm.files,
        pm.deletes :+ DeleteEntry(dvPath, "", rows, snap, kind = "dv"),
        note = "", schemaJson = pm.schemaJson,
        bucketCol = pm.bucketCol, nBuckets = pm.nBuckets)
    }
  }

  /** Deletion-vector sidecars are immutable (write-once like every
    * lake file) — parsed once per JVM, entries metadata-sized.
    */
  private val dvCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Array[Byte]]]()

  private[graft] def loadDv(path: String): Map[String, Array[Byte]] =
    dvCache.computeIfAbsent(path, { p =>
      val raw =
        if (p.contains(":")) Paths.get(new java.net.URI(p).getPath)
        else Paths.get(p)
      val node = mapper.readTree(Files.readString(raw))
      asScala(node.fieldNames()).map { f =>
        f -> java.util.Base64.getDecoder.decode(node.get(f).asText())
      }.toMap
    })

  /** OR-merge the per-file bitmaps of several dv sidecars (a file may
    * be re-targeted by later deletion vectors).
    */
  private[graft] def mergedDv(paths: Seq[String]): Seq[(String, Array[Byte])] =
    paths.flatMap(p => loadDv(p).toSeq)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, bs) =>
        f -> bs.map(_._2).reduce { (a, b) =>
          val x = java.util.BitSet.valueOf(a)
          x.or(java.util.BitSet.valueOf(b))
          x.toByteArray
        }
      }

  private val DvCol = "_graft_dv_bits"

  /** POSITION-DELTA commit (the write half of SQL UPDATE / MERGE INTO
    * / arbitrary-predicate DELETE): executors have already staged
    * `dataFiles` (inserted/updated rows, table schema) and
    * `deleteFiles` (([[CoordPath]], [[CoordIdx]]) coordinates of the
    * replaced rows); this binds BOTH to ONE atomic snapshot — the
    * Iceberg position-delta write shape, where an UPDATE touching
    * 0.01% of a 100 TB table costs 0.01%, not a rewrite.
    *
    * `basis` = the snapshot the coordinates were read from. Snapshot
    * isolation: the commit fails if a rewrite retired any addressed
    * file, or if ANY delete landed after `basis` (the update's values
    * were computed from rows that may since be masked). Concurrent
    * APPENDs commute and are allowed.
    */
  def commitDelta(spark: SparkSession, root: String, basis: Int,
      dataFiles: Seq[(String, Long)], deleteFiles: Seq[(String, Long)],
      statCols: Seq[String], note: String = ""): Int = {
    require(basis > 0, s"delta commit against empty table $root")
    // staged delta files carry PHYSICAL names (the delta writer
    // physicalizes its row schema) — stat keys and the type-lookup
    // frame must match
    val basisSchema = manifest(root, basis).schema
    val physMap = basisSchema.filter(ColumnMapping.hasMapping)
      .map(ColumnMapping.toPhysical).getOrElse(Map.empty)
    def phys(c: String) = physMap.getOrElse(c, c)
    // the stats pass needs only the files' schema: the basis manifest
    // stores it (physicalized, as the files carry it); a schema-less
    // manifest (never mapped) learns it from a read
    val entries =
      if (dataFiles.isEmpty) Nil
      else scanStatsPaths(spark, dataFiles.map(_._1), basisSchema match {
        case Some(s) => org.apache.spark.sql.graftshim.DsV2Shim
          .fileSourceSchema(ColumnMapping.physicalSchema(s))
        case None => read(spark, root, Some(basis)).schema
      }, statCols.map(phys))
    val referenced: Set[String] =
      if (deleteFiles.isEmpty) Set.empty
      else spark.read.parquet(deleteFiles.map(_._1): _*)
        .select(col(CoordPath)).distinct()
        .collect().map(_.getString(0)).toSet
    casLoop(root) { parent =>
      val pm = manifest(root, parent)
      val live = pm.files.map(_.path).toSet
      val dangling = referenced -- live
      if (dangling.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"delta commit addresses ${dangling.size} file(s) no longer in " +
            s"$root's head snapshot (a rewrite landed); re-run against the head")
      if (pm.deletes.exists(_.seq > basis))
        throw new java.util.ConcurrentModificationException(
          s"delta commit based on snapshot $basis of $root but a delete " +
            "landed since; re-run against the head")
      val snap = parent + 1
      // delta-written files carry no bucket: the spec stays (future
      // compaction restores it) but SPJ reporting self-disables while
      // any live file is unbucketed
      Manifest(snap, parent,
        pm.files ++ entries.map(_.copy(seq = snap)),
        pm.deletes ++ deleteFiles.map { case (p, n) =>
          DeleteEntry(p, "", n, snap, kind = "pos") },
        note, pm.schemaJson,
        bucketCol = pm.bucketCol, nBuckets = pm.nBuckets)
    }
  }

  /** A commit-unique staging directory under `root` for out-of-band
    * writers (the DSv2 delta write stages its task files here before
    * [[commitDelta]] binds them).
    */
  private[graft] def newStagingDir(root: String): String = {
    val dir = stagingDir(root)
    Files.createDirectories(Paths.get(dir))
    dir
  }

  /** Append PRE-STAGED data files as one snapshot (the DSv2
    * streaming-write epoch commit): executors have already written
    * `files` (table schema); this validates the schema against the
    * head (same rules as an append commit — first commit defines the
    * schema, later ones must carry it, additive evolution allowed),
    * records per-file stats in one read-back pass over exactly those
    * files, and binds them with the CAS. Returns the snapshot id, or
    * -1 when `note` already landed (an idempotent replay, see
    * [[landed]]).
    */
  def commitStaged(spark: SparkSession, root: String,
      files: Seq[(String, Long)], schema: StructType,
      statCols: Seq[String], note: String): Int = {
    if (note.nonEmpty && landed(root, note)) return -1
    // staged files carry PHYSICAL names on a mapped table (the
    // streaming writer factory physicalizes its row schema)
    val parentMapped = storedSchemaOf(root).filter(ColumnMapping.hasMapping)
    val physMap = parentMapped.map(ColumnMapping.toPhysical).getOrElse(Map.empty)
    def phys(c: String) = physMap.getOrElse(c, c)
    val readSchema =
      if (parentMapped.isEmpty) schema
      else StructType(schema.fields.map(f => f.copy(name = phys(f.name))))
    // the staged files' schema is all the stats pass needs: footers
    // serve it without a frame, and its fallback scan builds its own
    val entries = scanStatsPaths(spark, files.map(_._1),
      org.apache.spark.sql.graftshim.DsV2Shim.fileSourceSchema(readSchema),
      statCols.map(phys))
    val stagedSnap = casLoop(root) { parent =>
      var stored = schema
      if (parent > 0) {
        manifest(root, parent).schema.foreach { expect =>
          if (ColumnMapping.hasMapping(expect) || parentMapped.isDefined) {
            if (parentMapped.map(ColumnMapping.toPhysical).getOrElse(Map.empty) !=
                ColumnMapping.toPhysical(expect))
              throw new java.util.ConcurrentModificationException(
                s"column mapping of $root changed while this epoch was " +
                  "staging; re-run against the current head")
            stored = ColumnMapping.mergeAppend(expect, schema, root)
          } else {
          val broken = expect.fields.filterNot(f =>
            schema.exists(g => g.name == f.name && g.dataType == f.dataType))
          require(broken.isEmpty,
            s"staged append schema mismatch for $root: dropped/retyped " +
              broken.map(_.name).mkString(", "))
          val added = schema.fields.filterNot(g => expect.exists(_.name == g.name))
          require(added.forall(_.nullable),
            s"staged append to $root adds non-nullable columns")
          // matched fields keep the PARENT's metadata (widened-column
          // stamp survives staged appends, as in the inline path)
          stored = StructType(schema.fields.map { f =>
            expect.find(_.name == f.name) match {
              case Some(pf) =>
                f.copy(nullable = pf.nullable || f.nullable, metadata = pf.metadata)
              case None => f
            }
          })
          }
        }
      }
      val snap = parent + 1
      val pm = if (parent == 0) None else Some(manifest(root, parent))
      Manifest(snap, parent,
        pm.map(_.files).getOrElse(Nil) ++ entries.map(_.copy(seq = snap)),
        pm.map(_.deletes).getOrElse(Nil), note, stored.json,
        bucketCol = pm.map(_.bucketCol).getOrElse(""),
        nBuckets = pm.map(_.nBuckets).getOrElse(0))
    }
    AutoMaintain.afterCommit(spark, root)
    stagedSnap
  }

  /** APPEND with AVRO data files (the reference's storage format —
    * partitioned snappy Avro container files, main.go:47-54): each
    * write task streams its partition through one snappy
    * [[graft.lake.AvroPlane]] container writer and reports per-file
    * rows/bytes/min-max stats computed IN-STREAM (Avro has no stats
    * footer to re-read, so the writer's report is the commit stat —
    * the reference's own block-accounting shape). The commit then
    * binds the reported entries with the usual CAS, so snapshots,
    * time travel, incremental reads, manifest-stat pruning and
    * equality deletes all work unchanged over Avro files; the plane
    * is strict about schema (exact match, no evolution, no mapping)
    * and positional/DV deletes are rejected at the read choke point
    * — the reference's writer is append-only, and row indexes are a
    * parquet affordance.
    *
    * The collected stat rows are O(written files) — metadata-scale,
    * like every other commit accounting path.
    */
  /** Stage `df` as snappy avro containers under a fresh staging dir
    * and map the write tasks' in-stream stats to manifest entries —
    * the shared write half of [[appendAvro]] and [[rewriteAvro]], so
    * append-time and compaction-time stat encoding can never diverge.
    */
  private def avroStage(spark: SparkSession, root: String, df: DataFrame,
      statCols: Seq[String]): Seq[FileEntry] = {
    AvroPlane.validate(df.schema)
    val staging = newStagingDir(root)
    val schemaJson = df.schema.json
    val cols = statCols
    val stats = df.rdd.mapPartitionsWithIndex { (i, rows) =>
      AvroPlane.writePartition(rows, schemaJson, staging, i, cols)
    }.collect()
    stats.map { fs =>
      FileEntry(fs.path, fs.rows,
        fs.cols.filter(_.any).map(c =>
          c.name -> (if (c.kind == "s") ColStats(0L, 0L, "s", c.minS, c.maxS)
          else ColStats(c.minL, c.maxL))).toMap,
        bytes = fs.bytes)
    }.toSeq
  }

  /** Honor the table's DECLARED layout (`meta/_layout.json`) for an
    * avro-plane write: temporal (`days`/`hours`/…) and `truncate`
    * layouts RANGE-CLUSTER the batch on the raw column, a declared
    * z-order range-clusters on the interleaved quantile-bucket value
    * (graft.operators.ZOrder) — so per-file min/max extents come out
    * tight and manifest-stat pruning works on reference-format ingest
    * tables exactly as on the parquet plane. bucket/identity layouts
    * keep the incoming partitioning (hash fan-out is stat-neutral).
    * `parts` pins the fan-out (compaction); None keeps the session
    * shuffle parallelism.
    */
  /** The table's DDL-declared layout, parsed from `meta/_layout.json`:
    * (col, nBuckets, transform) — the ONE reader every consumer
    * (parquet write config, avro clustering) shares, so a new
    * transform kind cannot drift between planes.
    */
  def declaredLayout(root: String): Option[(String, Int, String)] = {
    val p = Paths.get(root, "meta", "_layout.json")
    if (!Files.exists(p)) None
    else {
      val node = mapper.readTree(Files.readString(p))
      Some((node.get("partition_col").asText(), node.get("n_buckets").asInt(),
        if (node.has("transform")) node.get("transform").asText()
        else if (node.get("n_buckets").asInt() > 0) "bucket" else "identity"))
    }
  }

  private def avroClustered(spark: SparkSession, root: String,
      df: DataFrame, parts: Option[Int] = None): DataFrame = {
    val layout = declaredLayout(root)
    if (layout.isEmpty) return parts.map(df.repartition).getOrElse(df)
    val (c, _, tf) = layout.get
    val ranged = Set("days", "months", "hours", "years", "date", "truncate")
    def byRange(cl: org.apache.spark.sql.Column): DataFrame = {
      // EXPLICIT partition count: an un-sized range shuffle is fair
      // game for AQE coalescing, which on a small batch folds the
      // clustering into one file and throws the extents away
      val n = parts.getOrElse(spark.sessionState.conf.numShufflePartitions)
      df.withColumn("__cluster", cl)
        .repartitionByRange(n, col("__cluster"))
        .sortWithinPartitions(col("__cluster")).drop("__cluster")
    }
    if (ranged(tf)) byRange(col(c))
    else if (tf == "zorder")
      byRange(graft.operators.ZOrder.zColumn(df, c.split(',').toSeq))
    else parts.map(df.repartition).getOrElse(df)
  }

  def appendAvro(spark: SparkSession, root: String, df: DataFrame,
      statCols: Seq[String], note: String = "append-avro"): Int = {
    storedSchemaOf(root).foreach { s =>
      require(!ColumnMapping.hasMapping(s),
        s"avro data plane: column mapping unsupported on $root")
    }
    val entries = avroStage(spark, root, avroClustered(spark, root, df), statCols)
    val avroSnap = casLoop(root) { parent =>
      var stored = df.schema
      if (parent > 0) {
        manifest(root, parent).schema.foreach { expect =>
          require(expect.fields.map(f => (f.name, f.dataType)).toSeq ==
              df.schema.fields.map(f => (f.name, f.dataType)).toSeq,
            s"avro append schema mismatch for $root: the avro plane is " +
              "strict — appends must carry exactly the table schema")
          // an append never narrows nullability (older files may
          // hold nulls a non-null batch can't speak for)
          stored = StructType(df.schema.fields.map { f =>
            val pf = expect(f.name)
            f.copy(nullable = pf.nullable || f.nullable, metadata = pf.metadata)
          })
        }
      }
      val snap = parent + 1
      val pm = if (parent == 0) None else Some(manifest(root, parent))
      Manifest(snap, parent,
        pm.map(_.files).getOrElse(Nil) ++ entries.map(_.copy(seq = snap)),
        pm.map(_.deletes).getOrElse(Nil), note, stored.json,
        bucketCol = pm.map(_.bucketCol).getOrElse(""),
        nBuckets = pm.map(_.nBuckets).getOrElse(0))
    }
    AutoMaintain.afterCommit(spark, root)
    avroSnap
  }

  /** AVRO-PRESERVING COMPACTION: fold the table's many small
    * container files (the reference's MaxAge cadence writes one
    * block per minute, main.go:75-77) into `parts` consolidated
    * snappy containers in ONE basis-validated replace commit —
    * the same CoW rewrite contract as [[rewrite]], but the data
    * plane stays Avro (an ingest-side table keeps its format; use
    * [[rewrite]] itself to migrate to parquet when the analytics
    * plane takes over). Pre-compaction snapshots keep reading the
    * original small files; equality-delete debt folds in (the
    * rewrite reads the delete-applied view) and the new manifest
    * carries none.
    */
  def rewriteAvro(spark: SparkSession, root: String, statCols: Seq[String],
      parts: Int): Int = {
    val head = currentSnapshot(root)
    require(head > 0, s"compactAvro on empty table $root")
    // same guard as appendAvro: a column-mapped table must never gain
    // avro files — the replace commit would keep the mapping metadata
    // and leave the new head unreadable (mapping is parquet-only)
    storedSchemaOf(root).foreach { s =>
      require(!ColumnMapping.hasMapping(s),
        s"avro data plane: column mapping unsupported on $root")
    }
    // compaction preserves the DECLARED layout's clustering too —
    // consolidating a days-clustered ingest table must not shuffle
    // its tight per-file time extents away. The container codec maps
    // fields BY INDEX; the read presents the manifest schema's order.
    val df = avroClustered(spark, root, read(spark, root, Some(head)),
      parts = Some(parts))
    val entries = avroStage(spark, root, df, statCols)
    casLoop(root, replace = true) { parent =>
      if (parent != head)
        throw new java.util.ConcurrentModificationException(
          s"avro compaction of $root based on snapshot $head but head is " +
            s"$parent; re-run against the current head")
      val snap = parent + 1
      Manifest(snap, parent, entries.map(_.copy(seq = snap)), Nil,
        note = "compact-avro", schemaJson = manifest(root, parent).schemaJson)
    }
  }

  /** ADDITIVE schema evolution as a METADATA-ONLY commit (SQL
    * `ALTER TABLE … ADD COLUMNS`): the new manifest carries the
    * widened schema over the UNCHANGED file list — zero data IO at
    * any table size; existing files null-fill the new columns at
    * read via the manifest schema, exactly like an evolved append
    * ([[commit]]'s additive-evolution rule). Only nullable additions
    * are representable without touching data, so anything else is
    * rejected here.
    */
  def evolveSchema(root: String, newSchema: StructType): Int =
    casLoop(root) { parent =>
      require(parent > 0, s"schema evolution on empty table $root")
      val pm = manifest(root, parent)
      val expect = pm.schema.get
      val broken = expect.fields.filterNot(f =>
        newSchema.exists(g => g.name == f.name && g.dataType == f.dataType))
      require(broken.isEmpty,
        s"schema evolution of $root may only ADD columns; dropped/retyped: " +
          broken.map(_.name).mkString(", "))
      val added = newSchema.fields.filterNot(g => expect.exists(_.name == g.name))
      // a non-nullable addition is representable iff it carries an
      // initial default — existing files then serve the default, not
      // an impossible non-null value out of nothing
      require(added.forall(f => f.nullable ||
          f.metadata.contains(ColumnMapping.ExistsDefaultKey)),
        s"evolution of $root adds non-nullable columns without defaults " +
          added.filterNot(f => f.nullable ||
            f.metadata.contains(ColumnMapping.ExistsDefaultKey))
            .map(_.name).mkString(", ") +
          "; existing files cannot satisfy them")
      // The avro plane accepts exactly the evolution Avro's own
      // reader-schema resolution makes native: ADDITIVE NULLABLE
      // columns (old containers null-fill by name at decode, the
      // writer schema advances at the next append). Everything else —
      // rename/drop/widen, and non-nullable-with-default (no parquet
      // footer machinery to serve defaults from) — stays rejected at
      // every evolution verb.
      if (pm.files.exists(_.path.endsWith(".avro"))) {
        require(added.forall(_.nullable),
          s"avro additive evolution of $root: new columns must be " +
            "nullable (reader-schema null-fill); non-nullable: " +
            added.filterNot(_.nullable).map(_.name).mkString(", "))
        AvroPlane.validate(StructType(added))
      }
      Manifest(parent + 1, parent, pm.files, pm.deletes,
        note = "evolve-schema", schemaJson = newSchema.json,
        bucketCol = pm.bucketCol, nBuckets = pm.nBuckets)
    }

  /** The head snapshot's STORED schema (tombstones and mapping
    * metadata included), None for an empty/schema-less table.
    */
  def storedSchemaOf(root: String): Option[StructType] = {
    val head = currentSnapshot(root)
    if (head == 0) None
    else manifest(root, head).schema
  }

  /** Rename a LOGICAL row schema to the table's PHYSICAL column names
    * (identity for unmapped tables) — for out-of-band writers whose
    * staged files the commit layer later binds.
    */
  def physicalizeSchema(root: String, s: StructType): StructType =
    storedSchemaOf(root).filter(ColumnMapping.hasMapping).map { st =>
      val pm = ColumnMapping.toPhysical(st)
      StructType(s.fields.map(f => f.copy(name = pm.getOrElse(f.name, f.name))))
    }.getOrElse(s)

  /** A schema-transform commit (rename/drop): metadata-only, with the
    * manifest-level bucket column following the column's LOGICAL name
    * across the change (parts are untouched — their stats stay keyed
    * by physical name, which rename/drop never alters).
    */
  /** The avro read path resolves columns BY NAME against each file's
    * writer schema (the scan's avro reader — additive evolution rides
    * that), which is exactly why the NON-additive verbs must reject a
    * table whose live snapshot holds avro files: after a RENAME the
    * old containers would silently null-fill the new name (their
    * writer schemas only know the old one), and drop/widen have no
    * per-file resolution rule at all — only a parquet rewrite
    * re-binds the data to the new shape.
    */
  private def requireNoAvro(pm: Manifest, root: String, verb: String): Unit =
    require(!pm.files.exists(_.path.endsWith(".avro")),
      s"$verb on $root: avro containers resolve columns by writer-schema " +
        "name, so rename/drop/widen cannot re-bind existing files — " +
        "migrate to parquet with a rewrite first")

  private def alterSchema(root: String,
      f: (Manifest, StructType) => StructType, note: String,
      voidBucketFor: Option[String] = None): Int =
    casLoop(root) { parent =>
      require(parent > 0, s"schema change on empty table $root")
      val pm = manifest(root, parent)
      requireNoAvro(pm, root, note)
      val stored = pm.schema.getOrElse(
        throw new IllegalArgumentException(s"table $root carries no schema"))
      val next = f(pm, stored)
      val bCol =
        if (pm.bucketCol.isEmpty || voidBucketFor.contains(pm.bucketCol)) ""
        else stored.fields.find(_.name == pm.bucketCol)
          .map(ColumnMapping.physicalName)
          .flatMap(ph => ColumnMapping.toLogical(next).get(ph))
          .getOrElse("")
      Manifest(parent + 1, parent, pm.files, pm.deletes, note,
        schemaJson = next.json,
        bucketCol = bCol, nBuckets = if (bCol.isEmpty) 0 else pm.nBuckets)
    }

  /** `ALTER TABLE … RENAME COLUMN` as a METADATA-ONLY commit: the
    * column's physical name (what every data file stores) is pinned
    * via [[ColumnMapping]] and only the logical name moves — zero
    * data IO at any table size; files written before the rename read
    * under the new name through the mapping.
    */
  def renameColumn(root: String, from: String, to: String): Int = {
    require(from != CoordPath && from != CoordIdx &&
      to != CoordPath && to != CoordIdx,
      "row-coordinate names are reserved")
    alterSchema(root, (_, s) => ColumnMapping.rename(s, from, to),
      note = s"rename-column:$from->$to")
  }

  /** `ALTER TABLE … DROP COLUMN` as a METADATA-ONLY commit: the field
    * becomes a tombstone that keeps its physical name reserved (a
    * later ADD COLUMN of the same name gets fresh storage — dropped
    * bytes can never resurrect); data files keep the bytes until a
    * rewrite purges them. Refused while an outstanding equality
    * delete is keyed on the column — applying that delete requires
    * reading it.
    */
  def dropColumn(root: String, name: String): Int =
    alterSchema(root, { (pm, s) =>
      val phys = s.fields.find(f => !ColumnMapping.isDropped(f) && f.name == name)
        .map(ColumnMapping.physicalName)
      phys.foreach { p =>
        require(!pm.deletes.exists(d => d.kind == "eq" && d.keyCol == p),
          s"cannot drop $name: outstanding equality deletes are keyed on " +
            "it — fold deletes (compact) first")
      }
      ColumnMapping.drop(s, name)
    }, note = s"drop-column:$name")

  /** `ALTER TABLE … ALTER COLUMN … TYPE` as a METADATA-ONLY commit:
    * only lossless widenings ([[ColumnMapping.canWiden]]) — existing
    * files keep their narrower physical type and the vectorized
    * parquet reader decodes them straight into the widened type at
    * scan; later appends land in the widened type. Zero data IO at
    * any table size. Widening the table's BUCKET column RETIRES the
    * bucket spec: file bucket labels were computed with the old
    * type's hash and `hash(5: int) != hash(5L)`, so keeping them
    * would lie to storage-partitioned joins — wrong data, not slow
    * data. The table stays fully correct, just SPJ-ineligible until
    * a rewrite re-buckets it under the widened type.
    */
  def widenColumn(root: String,
      name: String, to: org.apache.spark.sql.types.DataType): Int =
    alterSchema(root, (_, s) => ColumnMapping.widen(s, name, to),
      note = s"widen-column:$name:${to.simpleString}",
      voidBucketFor = Some(name))

  /** `ALTER TABLE … ALTER COLUMN … SET/DROP DEFAULT` as a
    * METADATA-ONLY commit: changes the WRITE default future INSERTs
    * fill when they omit the column. The INITIAL (exists) default —
    * what pre-evolution files serve — is frozen at ADD COLUMN time,
    * so this never rewrites history.
    */
  def updateColumnDefault(root: String, name: String,
      sql: Option[String]): Int =
    alterSchema(root, (_, s) => ColumnMapping.setCurrentDefault(s, name, sql),
      note = s"set-default:$name:${sql.getOrElse("<none>")}")

  /** Reserved coordinate-column names. Underscore-prefixed so a table
    * whose OWN schema has `path`/`idx` columns is never silently
    * overwritten by the delete plumbing; commit-time schema
    * enforcement rejects tables that try to claim them.
    */
  val CoordPath = "_graft_file_path"
  val CoordIdx = "_graft_row_idx"
  private val RowCoords = Seq(CoordPath, CoordIdx)

  /** A read decorated with each row's ([[CoordPath]], [[CoordIdx]])
    * delete coordinates — the address space [[deletePositions]]
    * consumes.
    */
  def withRowCoords(spark: SparkSession, root: String,
      asOf: Option[Int] = None): DataFrame = {
    val m = manifest(root, asOf.getOrElse(currentSnapshot(root)))
    readFiles(spark, root, m, m.files, coords = RowCoords)
  }

  /** Delete payloads past this many rows per file fan out across
    * tasks instead of funneling through one writer — a bulk DELETE
    * (1% of 100 TB is ~1 B keys) must parallelize like any other
    * write, while a takedown-sized one stays a single tiny file.
    */
  val DeleteFileRowsKey = "spark.graft.lake.deleteFileRows"
  private val DefaultDeleteFileRows = 1L << 21

  /** Read-side strategy pivot for [[read]] and its siblings: an
    * equality-delete group (one key column) or the positional group,
    * summed over the delete files that apply to a file set, whose
    * recorded row count exceeds this is SHUFFLE anti-joined instead of
    * probed from the per-reader hash set — the manifest already knows
    * the size, so a bulk delete never has to fit in each executor. SQL
    * reads always probe.
    */
  val BroadcastDeleteRowsKey = "spark.graft.lake.broadcastDeleteRows"
  private val DefaultBroadcastDeleteRows = 4L << 20

  private def confLong(spark: SparkSession, key: String, dflt: Long): Long =
    spark.conf.getOption(key).map(_.trim.toLong).getOrElse(dflt)

  /** Stage a delete-payload frame (equality keys or positional
    * coordinates) and report its per-file row counts.
    *
    * `shuffled = true` (the equality-key callers, whose payloads come
    * off a `.distinct()` exchange): ONE pass — AQE has already
    * coalesced the shuffle output to advisory-sized partitions, and
    * `maxRecordsPerFile` bounds rows per file, so the sizing
    * count + coalesce pair (and the persist bridging them) collapses
    * into the write itself. At scale this also stops capping the
    * write's parallelism at the session's shuffle-partition count.
    *
    * `shuffled = false` (positional payloads, arbitrary upstream
    * partitioning): the legacy two-pass shape — count to size the
    * fan-out (⌈rows / deleteFileRows⌉ tasks capped at the session's
    * shuffle parallelism), persist bridging count + write.
    */
  private def stageDeleteFrame(spark: SparkSession, root: String,
      payload: DataFrame, shuffled: Boolean = false)
      : (String, Seq[(String, Long)]) = {
    val staging = stagingDir(root)
    val fileRows = confLong(spark, DeleteFileRowsKey, DefaultDeleteFileRows)
    if (shuffled) {
      payload.write.mode("errorifexists")
        .option("maxRecordsPerFile", fileRows)
        .parquet(staging)
    } else {
    val p = payload.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = p.count()
      val parts = math.max(1L, math.min(
        spark.sessionState.conf.numShufflePartitions.toLong,
        (n + fileRows - 1) / fileRows)).toInt
      p.coalesce(parts).write.mode("errorifexists").parquet(staging)
    } finally p.unpersist()
    }
    // per-file row counts straight from the parquet footers — no
    // read-back job over the payload just to count what was written
    val entries = listParquet(Paths.get(staging)).map { fp =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(fp.toUri), footerConf))
      val rows =
        try asScala(r.getFooter.getBlocks.iterator()).map(_.getRowCount).sum
        finally r.close()
      (metadataPathString(fp), rows)
    }.sortBy(_._1)
    (staging, entries)
  }

  private val stageCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Daemon pool for overlapping a commit's independent staging
    * actions (data files vs delete mask — no shared lineage barrier):
    * Spark schedules concurrent jobs FIFO, so the small mask job
    * back-fills the data write's task tail (guide §2.6) instead of
    * paying its own full scheduling round after it.
    */
  private lazy val stagingEc = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-staging"); t.setDaemon(true); t
    }))

  /** Commit-unique staging dir: files live here forever (no rename —
    * the manifest, not the path, binds them to a snapshot), so the
    * scheme maps 1:1 onto write-once object keys.
    */
  private def stagingDir(root: String): String =
    s"$root/data/c${System.nanoTime()}-${stageCounter.incrementAndGet()}"

  private def writeSnapshot(spark: SparkSession, root: String, df: DataFrame,
      cfg: BlockWriter.Config, statCols: Seq[String],
      rangeCluster: Boolean, replace: Boolean, note: String,
      basis: Option[Int] = None, bloomCols: Seq[String] = Nil,
      skipIfEmpty: Boolean = false,
      clusterBy: Option[org.apache.spark.sql.Column] = None): Int = {
    val reserved = df.schema.fieldNames.filter(n => n == CoordPath || n == CoordIdx)
    require(reserved.isEmpty,
      s"table columns ${reserved.mkString(", ")} collide with the reserved " +
        "row-coordinate names; rename them before committing")
    // COLUMN MAPPING: a renamed/dropped table's data files store
    // PHYSICAL names — translate the frame and every column-keyed
    // knob before staging (identity for never-renamed tables). The
    // commit re-checks the mapping against the re-resolved parent.
    val parentMapped: Option[StructType] =
      if (replace) None else storedSchemaOf(root).filter(ColumnMapping.hasMapping)
    val physMap = parentMapped.map(ColumnMapping.toPhysical).getOrElse(Map.empty)
    def phys(c: String) = physMap.getOrElse(c, c)
    // a DERIVED cluster key (z-order): computed on the LOGICAL frame
    // under a reserved transient name; BlockWriter range-clusters on
    // it and drops it before the save, so it never reaches files or
    // the table schema (df itself stays pristine for schema checks)
    val dfC = clusterBy match {
      case Some(e) => df.withColumn(BlockWriter.ClusterTmp, e)
      case None => df
    }
    val dfW =
      if (parentMapped.isEmpty) dfC
      else dfC.select(dfC.columns.toIndexedSeq.map(c => col(c).as(phys(c))): _*)
    val cfgW0 =
      if (parentMapped.isEmpty) cfg
      else cfg.copy(partitionCol = phys(cfg.partitionCol), keyCol = phys(cfg.keyCol))
    val cfgW =
      if (clusterBy.isDefined) cfgW0.copy(keyCol = BlockWriter.ClusterTmp)
      else cfgW0
    val staging = stagingDir(root)
    BlockWriter.writeFlat(dfW, staging, cfgW, rangeCluster || clusterBy.isDefined)
    // the hash-bucket layout this write produced (mirrors writeFlat's
    // repartition): recorded per file + as the manifest spec so scans
    // can report KeyGroupedPartitioning (storage-partitioned joins)
    val spec: Option[(String, Int)] =
      if (rangeCluster || clusterBy.isDefined) None
      else Some((cfg.partitionCol, cfg.parallelism
        .getOrElse(spark.sessionState.conf.numShufflePartitions)))
    // stats/bloom keys and the bucket-spec column are PHYSICAL in the
    // immutable parts; the manifest-level spec stays logical
    val entries = scanStats(spark, staging, dfW, statCols.map(phys),
      bloomCols.map(phys), spec.map { case (c, n) => (phys(c), n) })
    // emptiness decided from the STAGED write's own entries — callers
    // (the streaming sink) need not pre-execute the plan just to ask
    // isEmpty, which would double per-epoch source work
    if (skipIfEmpty && entries.forall(_.rows == 0L)) {
      val walk = java.nio.file.Files.walk(Paths.get(staging))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p): Unit)
      finally walk.close()
      return currentSnapshot(root)
    }
    casLoop(root, replace) { parent =>
      // REPLACE validation: a rewrite whose basis snapshot is no
      // longer the head would retire files whose rows it never read —
      // fail it rather than drop a concurrent append.
      if (replace && basis.exists(_ != parent))
        throw new java.util.ConcurrentModificationException(
          s"rewrite of $root based on snapshot ${basis.get} but head is $parent; " +
            "re-run the rewrite against the current head")
      // Schema enforcement (the reference's schema-driven ingest, at
      // table granularity): an APPEND must carry every table column
      // at its exact type — a drifting producer fails at commit time
      // instead of silently writing files a fixed-schema reader would
      // mask out. ADDITIVE evolution is allowed without a rewrite:
      // new columns may appear if nullable (old files null-fill at
      // read via the manifest schema); the manifest then records the
      // widened schema, which later appends must carry. Re-checked on
      // every retry against the RE-RESOLVED parent (the racing winner
      // may have evolved the schema). Rewrites may reshape freely.
      var storedSchema = df.schema
      if (!replace && parent > 0) {
        manifest(root, parent).schema.foreach { expect =>
          if (ColumnMapping.hasMapping(expect) || parentMapped.isDefined) {
            // the staged files were written under the mapping read
            // BEFORE staging — if a rename/drop landed in between,
            // their column names no longer match the table's physical
            // layout, so fail the commit rather than stage wrong names
            if (parentMapped.map(ColumnMapping.toPhysical).getOrElse(Map.empty) !=
                ColumnMapping.toPhysical(expect))
              throw new java.util.ConcurrentModificationException(
                s"column mapping of $root changed while this append was " +
                  "staging; re-run the append against the current head")
            storedSchema = ColumnMapping.mergeAppend(expect, df.schema, root)
          } else {
          val got = df.schema
          val broken = expect.fields.filterNot(f =>
            got.exists(g => g.name == f.name && g.dataType == f.dataType))
          require(broken.isEmpty,
            s"append schema mismatch for $root: dropped/retyped columns " +
              broken.map(_.name).mkString(", "))
          val added = got.fields.filterNot(g => expect.exists(_.name == g.name))
          require(added.forall(_.nullable),
            s"append to $root adds non-nullable columns " +
              added.filterNot(_.nullable).map(_.name).mkString(", ") +
              "; old files cannot satisfy them — make them nullable or rewrite")
          // an append never NARROWS nullability: a non-null batch (a
          // VALUES insert, a filtered frame) does not make a nullable
          // table column required — older files still hold nulls.
          // Matched fields keep the PARENT's metadata: the widened-
          // column stamp (and any future marker) is a property of the
          // table's file history, which an append can't reset.
          storedSchema = StructType(got.fields.map { f =>
            expect.find(_.name == f.name) match {
              case Some(pf) =>
                f.copy(nullable = pf.nullable || f.nullable, metadata = pf.metadata)
              case None => f
            }
          })
          }
        }
      }
      val snap = parent + 1
      val pm = if (replace || parent == 0) None else Some(manifest(root, parent))
      // bucket spec survives only while every commit agrees on it
      val (bCol, bN) = pm match {
        case None => spec.getOrElse(("", 0))
        case Some(p) if p.files.isEmpty => spec.getOrElse(("", 0))
        case Some(p) if spec.contains((p.bucketCol, p.nBuckets)) =>
          (p.bucketCol, p.nBuckets)
        case _ => ("", 0)
      }
      Manifest(snap, parent,
        pm.map(_.files).getOrElse(Nil) ++ entries.map(_.copy(seq = snap)),
        pm.map(_.deletes).getOrElse(Nil), note, storedSchema.json,
        bucketCol = bCol, nBuckets = bN)
    }
  }

  /** One read-back pass over the staging dir → per-file row counts,
    * typed min/max stats (long for integer/timestamp/date columns,
    * lexicographic for strings) and, for `bloomCols`, per-file bloom
    * bitmaps (each row contributes k set-bit positions; the per-file
    * position sets are bounded by k·maxRecordsPerFile and assembled
    * into bitsets driver-side alongside the rest of the commit-time
    * stats).
    */
  private def scanStats(spark: SparkSession, staging: String, df: DataFrame,
      statCols: Seq[String], bloomCols: Seq[String] = Nil,
      bucketOf: Option[(String, Int)] = None): Seq[FileEntry] =
    scanStatsPaths(spark, Seq(staging), df.schema, statCols, bloomCols, bucketOf)

  /** Thrown (and caught locally) when a stat is not footer-expressible. */
  private object FooterBail extends scala.util.control.ControlThrowable

  /** UTF-8 binary string ordering — the collation Spark's string
    * min/max and parquet's UTF8 footer stats agree on. Folding with
    * Java's UTF-16 `compareTo` instead would misorder supplementary
    * characters, which is survivable for pruning bounds but not for
    * an EXACT manifest-served MIN/MAX answer.
    */
  private[graft] def utf8Compare(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  private[graft] def utf8Min(a: String, b: String): String =
    if (utf8Compare(a, b) <= 0) a else b
  private[graft] def utf8Max(a: String, b: String): String =
    if (utf8Compare(a, b) >= 0) a else b

  /** The exact string Spark's `_metadata.file_path` produces for a
    * local file — manifest paths MUST be in this form because delta
    * commits string-compare read-time coordinates against them.
    */
  private def metadataPathString(p: Path): String =
    new org.apache.hadoop.fs.Path(p.toUri).toString

  /** The hash bucket recorded in a staged file's PATH
    * (`_graft_bucket=K/`), -1 when absent. [[BlockWriter.writeFlat]]
    * writes the computed bucket VALUE as a partition directory, so the
    * label is bucket-pure by construction — task ids are NOT sound for
    * this (Catalyst elides the repartition exchange over an
    * already-hash-partitioned child, and AQE may coalesce the
    * surviving upstream shuffle, mixing buckets within one task).
    */
  private def bucketFromPath(p: Path, n: Int): Int =
    Option(p.getParent).map(_.getFileName.toString)
      .filter(_.startsWith(BlockWriter.BucketDir + "="))
      .map(_.substring(BlockWriter.BucketDir.length + 1).toInt)
      .filter(b => b >= 0 && b < n)
      .getOrElse(-1)

  /** Data files under a staging dir, descending into the one
    * `_graft_bucket=K/` directory level hash-clustered writes produce.
    */
  private def listParquet(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir, 2)
    try asScala(walk.iterator()).filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) &&
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
    finally walk.close()
  }

  /** The hadoop conf every footer read shares (commit stats, delete
    * file row counts), built once: a new `Configuration` re-parses its
    * default resources. Loaded eagerly, because `Configuration` parses
    * them lazily on first get, which is not thread-safe, and the
    * stats pool reads footers concurrently.
    */
  private lazy val footerConf: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.get("fs.defaultFS"): Unit
    c
  }

  /** FOOTER-ONLY commit stats: per-file row counts, byte sizes and
    * min/max column stats read from the staged parquet files'
    * FOOTERS — zero data-page IO, the way production table formats
    * collect commit metrics (Iceberg reads writer-reported metrics;
    * here the parquet footer IS the writer's report). The file's hash
    * bucket is read from its `_graft_bucket=K/` path segment (see
    * [[bucketFromPath]]).
    *
    * Returns None (caller falls back to the data-scan path) when any
    * needed stat is not footer-expressible: a stat column of a
    * non-footer type, INT96 timestamps or missing/oversized binary
    * stats. An all-null column's stats are omitted for that file.
    */
  private def footerStats(paths: Seq[String], schema: StructType,
      statCols: Seq[String],
      bucketOf: Option[(String, Int)]): Option[Seq[FileEntry]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def bail(): Nothing = throw FooterBail
    try {
      val kinds: Seq[(String, String)] = statCols.map { c =>
        schema(c).dataType match {
          case StringType => (c, "s")
          case LongType | IntegerType | ShortType | ByteType |
               TimestampType | DateType => (c, "i")
          case _ => bail()
        }
      }
      val files: Seq[Path] = paths.flatMap { p0 =>
        val raw =
          if (p0.contains(":")) Paths.get(new java.net.URI(p0).getPath)
          else Paths.get(p0)
        if (Files.isDirectory(raw)) listParquet(raw) else Seq(raw)
      }
      def entryOf(fp: Path): FileEntry = {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(fp.toUri), footerConf))
        val (rows, colStats) =
          try {
            val blocks = asScala(r.getFooter.getBlocks.iterator()).toSeq
            val nRows = blocks.map(_.getRowCount).sum
            val stats = kinds.flatMap { case (c, k) =>
              val chunks = blocks.map(b =>
                asScala(b.getColumns.iterator())
                  .find(_.getPath.toDotString == c).getOrElse(bail()))
              val st = chunks.map(_.getStatistics)
              if (st.exists(s => s == null || s.isEmpty)) bail()
              val withVals = st.filter(_.hasNonNullValue)
              // an all-null column has no min/max: its stats entry is
              // omitted, as the scan path omits it
              if (withVals.isEmpty) None
              else Some {
                val prim = chunks.head.getPrimitiveType
                c -> (if (k == "s") {
                  if (prim.getPrimitiveTypeName != PrimitiveTypeName.BINARY) bail()
                  val mins = withVals.map(_.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  val maxs = withVals.map(_.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  // UTF-8 BINARY fold (what Spark's string ordering and
                  // parquet's UTF8 stat ordering both use) — Java's
                  // UTF-16 compareTo diverges on supplementary chars
                  ColStats(0, 0, "s", mins.reduce(utf8Min), maxs.reduce(utf8Max))
                } else {
                  // INT96 timestamps carry no usable stats; micros only
                  // (the engine's sessions write TIMESTAMP_MICROS)
                  schema(c).dataType match {
                    case TimestampType =>
                      val ok = prim.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
                        (prim.getLogicalTypeAnnotation match {
                          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
                          case _ => false
                        })
                      if (!ok) bail()
                    case _ =>
                      if (prim.getPrimitiveTypeName != PrimitiveTypeName.INT32 &&
                        prim.getPrimitiveTypeName != PrimitiveTypeName.INT64) bail()
                  }
                  val mins = withVals.map(_.genericGetMin.asInstanceOf[Number].longValue)
                  val maxs = withVals.map(_.genericGetMax.asInstanceOf[Number].longValue)
                  ColStats(mins.min, maxs.max)
                })
              }
            }.toMap
            (nRows, stats)
          } finally r.close()
        val bucket = bucketOf match {
          case Some((_, n)) => bucketFromPath(fp, n)
          case None => -1
        }
        FileEntry(metadataPathString(fp), rows, colStats,
          bytes = Files.size(fp), bucket = bucket)
      }
      // Footer reads are independent metadata IO — read them on a
      // bounded pool instead of serially (a scatter commit stages
      // thousands of small files; serial open/parse made the commit
      // driver-bound). On a real cluster this whole path is the
      // writer-task report (each task returns its own file's footer
      // stats with the write), so the driver never walks files at all;
      // locally the pool keeps commit latency footer-IO-bound.
      val pool = new java.util.concurrent.ForkJoinPool(
        math.min(32, math.max(4, Runtime.getRuntime.availableProcessors())))
      val entries: Seq[Option[FileEntry]] =
        try {
          import scala.collection.parallel.CollectionConverters._
          val pc = files.par
          pc.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
          pc.map(fp => try Some(entryOf(fp)) catch { case FooterBail => None })
            .seq.toSeq
        } finally pool.shutdown()
      if (entries.contains(None)) None
      else Some(entries.flatten.sortBy(_.path))
    } catch { case FooterBail => None }
  }

  private def scanStatsPaths(spark: SparkSession, paths: Seq[String],
      schema: StructType, statCols: Seq[String],
      bloomCols: Seq[String] = Nil,
      bucketOf: Option[(String, Int)] = None): Seq[FileEntry] = {
    // blooms need real row values; everything else comes from footers
    if (bloomCols.isEmpty)
      footerStats(paths, schema, statCols, bucketOf) match {
        case Some(es) => return es
        case None => ()
      }
    val kinds: Seq[(String, String, Column => Column)] = statCols.map { c =>
      schema(c).dataType match {
        case StringType => (c, "s", (x: Column) => x)
        case TimestampType => (c, "i", (x: Column) => unix_micros(x))
        case DateType => (c, "i", (x: Column) => datediff(x, to_date(lit("1970-01-01"))).cast("bigint"))
        case _ => (c, "i", (x: Column) => x.cast("bigint"))
      }
    }
    // the file's hash bucket: writeFlat co-locates one bucket per
    // write task, so min==max by construction — recorded for
    // storage-partitioned planning; disagreement (a foreign layout)
    // degrades to "unknown" (-1), never to a wrong report
    val bucketExprs = bucketOf.toSeq.flatMap { case (c, n) => Seq(
      min(pmod(hash(col(c)), lit(n))).cast("bigint").as("bucket_min"),
      max(pmod(hash(col(c)), lit(n))).cast("bigint").as("bucket_max")) }
    val aggCols = (((count(lit(1)).cast("bigint").as("rows") +:
      kinds.flatMap { case (c, _, f) => Seq(
        min(f(col(c))).as(s"min_$c"), max(f(col(c))).as(s"max_$c")) }) ++
      bloomCols.flatMap(c => (0 until BloomK).map(i =>
        collect_set(bloomPosExpr(col(c), i)).as(s"bl_${c}_$i")))) :+
      max(col("_metadata.file_size")).cast("bigint").as("bytes")) ++
      bucketExprs
    val bloomBase = 2 + 2 * kinds.size
    spark.read.parquet(paths: _*)
      .groupBy(col("_metadata.file_path").as("path"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect() // one row per staged file — commit-time stats only
      .map { r =>
        val base = kinds.zipWithIndex.flatMap { case ((c, k, _), i) =>
          // an all-null column has no min/max — omit its stats entry
          // (pruning keeps files with missing stats, so correctness
          // is untouched; only the IO bound loosens)
          if (r.isNullAt(2 + 2 * i)) None
          else Some(c -> (if (k == "s")
            ColStats(0, 0, "s", r.getString(2 + 2 * i), r.getString(3 + 2 * i))
          else ColStats(r.getLong(2 + 2 * i), r.getLong(3 + 2 * i))))
        }.toMap
        val blooms = bloomCols.zipWithIndex.map { case (c, j) =>
          val bits = new java.util.BitSet(BloomM)
          (0 until BloomK).foreach { i =>
            r.getSeq[Long](bloomBase + j * BloomK + i).foreach(p => bits.set(p.toInt))
          }
          c -> java.util.Base64.getEncoder.encodeToString(bits.toByteArray)
        }.toMap
        val stats = (base.keySet ++ blooms.keySet).map { c =>
          c -> base.getOrElse(c, ColStats(0, 0, "b"))
            .copy(bloom = blooms.getOrElse(c, ""))
        }.toMap
        val bytesIdx = bloomBase + bloomCols.size * BloomK
        val bucket = bucketOf match {
          case Some(_) if r.getLong(bytesIdx + 1) == r.getLong(bytesIdx + 2) =>
            r.getLong(bytesIdx + 1).toInt
          case _ => -1
        }
        FileEntry(r.getString(0), r.getLong(1), stats,
          bytes = r.getLong(bytesIdx), bucket = bucket)
      }.toSeq.sortBy(_.path)
  }

  /** The commit CAS: build the manifest against the current head and
    * CREATE_NEW it; on collision (another committer won that id)
    * re-resolve and rebuild — the staged data files never move, so a
    * retry costs one manifest rebuild, not a data rewrite. On an
    * object store this maps to conditional-put / catalog CAS.
    *
    * METADATA SCALING (the Iceberg manifest-list shape): the builder
    * returns the RESOLVED view, but what lands on disk is
    * incremental — this commit's added files/deletes go into an
    * immutable `part-<token>.json`, and `manifest-N.json` records
    * only snapshot metadata plus the ordered PART PATH LIST
    * (parent's parts + the new one; just the new one for a REPLACE).
    * Commit IO is O(added + commits), never O(table files): at 100 TB
    * with millions of live files an append writes KBs of metadata,
    * not a GB file inventory. A losing CAS attempt orphans its part
    * file (the part embeds the attempted seq, so it cannot be
    * reused); [[removeOrphans]] sweeps those.
    */
  private def casLoop(root: String, replace: Boolean = false,
      partsFrom: Option[(String, Int)] = None,
      removed: Seq[String] = Nil,
      consolidate: Boolean = false)
      (build: Int => Manifest): Int = {
    val meta = Paths.get(root, "meta")
    Files.createDirectories(meta)
    var attempt = 0
    while (true) {
      val parent = currentSnapshot(root)
      val m = build(parent)
      // partsFrom (rollback/branch/publish): the new manifest
      // re-references another snapshot's immutable part list — possibly
      // from ANOTHER chain's meta dir — instead of the parent's; the
      // inventory is inherited WHOLESALE, so nothing counts as added
      // (a seq collision with the new snapshot id — e.g. branch-seq-2
      // files under a main publish landing as snapshot 2 — must not
      // re-serialize those files into a second part).
      // consolidate (rewrite_manifests): the ENTIRE resolved inventory
      // — original seq values preserved — is re-serialized into ONE
      // part and the manifest references only that part; nothing is
      // inherited, so resolution cost resets from O(commits) part
      // reads to one.
      val added =
        if (consolidate) m.files
        else if (partsFrom.isDefined) Nil
        else m.files.filter(_.seq == m.snapshotId)
      val addedDeletes =
        if (consolidate) m.deletes
        else if (partsFrom.isDefined) Nil
        else m.deletes.filter(_.seq == m.snapshotId)
      val parentParts: Seq[String] = partsFrom match {
        case _ if consolidate => Nil
        case Some((srcRoot, srcSnap)) => rawParts(srcRoot, srcSnap)
        case None => if (replace || parent == 0) Nil else rawParts(root, parent)
      }
      val partPath = meta.resolve(
        s"part-${System.nanoTime()}-${stageCounter.incrementAndGet()}.json")
      // the part name is unique by construction (staging, not
      // arbitration) — a plain write-once object
      Files.writeString(partPath, partJson(added, addedDeletes, removed))
      // commit wall-clock, stamped at the CAS attempt — metadata
      // for AS-OF-TIMESTAMP travel, never query output. The manifest
      // CLAIM is the commit: exactly one claimant per snapshot id
      // wins, arbitrated by the pluggable [[CommitCoordinator]].
      if (coordinator.claim(meta.resolve(s"manifest-${m.snapshotId}.json"),
          manifestJson(m.copy(tsMs = System.currentTimeMillis()),
            parentParts :+ partPath.toString))) {
        coordinator.advanceHead(meta, m.snapshotId)
        return m.snapshotId
      } else {
        attempt += 1
        if (attempt >= MaxCommitRetries)
          throw new IllegalStateException(
            s"commit to $root lost the CAS $MaxCommitRetries times; giving up")
      }
    }
    -1 // unreachable
  }

  /** The pluggable commit coordinator — [[LocalFsCoordinator]]
    * (CREATE_NEW) by default; an object-store deployment swaps in a
    * conditional-PUT implementation ([[MemoryCasCoordinator]] is the
    * in-memory model the racing specs exercise). Global: one
    * arbitration domain per JVM, exactly like the FS default.
    */
  @volatile private var coordinator: CommitCoordinator = LocalFsCoordinator
  def commitCoordinator: CommitCoordinator = coordinator
  def setCommitCoordinator(c: CommitCoordinator): Unit = coordinator = c

  private def pointerValue(meta: Path): Int = {
    val p = meta.resolve("_current")
    if (Files.exists(p)) Files.readString(p).trim.toInt else 0
  }

  // ---------------- read ----------------

  /** Latest committed snapshot id, 0 if the table has no commits.
    * The pointer is a hint: every existing manifest IS a won commit
    * (CREATE_NEW), so the head is found by walking forward from the
    * pointer — correct even if a racing committer's pointer write
    * lags its manifest.
    */
  def currentSnapshot(root: String): Int = {
    val meta = Paths.get(root, "meta")
    var s = pointerValue(meta)
    while (Files.exists(meta.resolve(s"manifest-${s + 1}.json"))) s += 1
    s
  }

  /** Read the table as of `asOf` (default: current snapshot) — the
    * file list comes from that snapshot's manifest, so the read is
    * immune to concurrent commits and later file additions. Equality
    * deletes are applied per the sequence rule: a delete drops rows
    * only from data files committed BEFORE it.
    */
  def read(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame = {
    val m = manifest(root, asOf.getOrElse(currentSnapshot(root)))
    readFiles(spark, root, m, m.files)
  }

  /** Largest snapshot committed at or before `tsMs` — AS OF TIMESTAMP
    * travel (manifest walk; snapshot count is metadata-scale).
    */
  def snapshotAsOfTime(root: String, tsMs: Long): Int = {
    val hits = (1 to currentSnapshot(root)).filter { i =>
      Files.exists(Paths.get(root, "meta", s"manifest-$i.json")) &&
        manifest(root, i).tsMs <= tsMs
    }
    require(hits.nonEmpty, s"no snapshot of $root at or before epoch-ms $tsMs")
    hits.max
  }

  def readAsOfTime(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    read(spark, root, Some(snapshotAsOfTime(root, tsMs)))

  /** Incremental APPEND scan (Iceberg's incremental read; the lake as
    * a CDC/stream source): rows ADDED by snapshots in
    * (`fromSnap`, `toSnap`] — exactly the data files whose sequence
    * number falls in the range, resolved from the manifest with no
    * directory listing and no re-read of older data. A downstream
    * consumer that checkpoints its last-seen snapshot id gets
    * exactly-once incremental consumption; deletes are a different
    * changelog (append-scan semantics, as in Iceberg's
    * `incremental-from-snapshot` scans).
    */
  def incrementalRead(spark: SparkSession, root: String, fromSnap: Int,
      toSnap: Int): DataFrame = {
    val head = currentSnapshot(root)
    require(fromSnap >= 0 && toSnap <= head && fromSnap <= toSnap,
      s"incremental range ($fromSnap, $toSnap] out of [0, $head]")
    val m = manifest(root, toSnap)
    val added = m.files.filter(f => f.seq > fromSnap && f.seq <= toSnap)
    if (added.isEmpty) {
      // a delete-only / metadata-only range still needs the TABLE
      // schema — a schema-less emptyDataFrame would blow up a stream
      // consumer's select() over it
      val schema = m.schema.map(ColumnMapping.logicalClean)
        .getOrElse(readFiles(spark, root, m, m.files).schema)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    } else readFiles(spark, root, m.copy(deletes = Nil), added)
  }

  /** CHANGE DATA FEED (the changelog read — Iceberg's
    * `create_changelog_view`, Delta's CDF): every row-level change
    * committed by snapshots in (`fromSnap`, `toSnap`], tagged with
    * `_change_type` ('insert' | 'delete') and `_change_snap` (the
    * committing snapshot id). An update (MERGE / position-delta
    * UPDATE) appears as delete-of-the-old-version plus
    * insert-of-the-new under the same `_change_snap` — the standard
    * changelog encoding a downstream sink folds back into upserts.
    *
    * Cost model at scale: append / MoR-delete / merge / delta commits
    * are attributed FROM THE MANIFEST and cost O(changed rows) —
    * inserts read exactly the files the commit added, and deletes
    * re-read only the pre-image rows the commit's delete files mask
    * (semi-join of the parent view against the delete payload, with
    * the same broadcast-vs-shuffle sizing as the read path). REPLACE
    * commits (compaction, CoW rewrite, rollback, truncate) carry no
    * row-level attribution in metadata, so they fall back to a
    * multiset diff of the two adjacent snapshot views (EXCEPT ALL
    * both ways): content-preserving maintenance yields ZERO change
    * rows — at the price of a two-snapshot scan. This asymmetry is
    * exactly why MoR deletes and a changelog consumer pair well at
    * 100 TB, and mirrors Iceberg, whose changelog likewise cannot
    * cheaply attribute overwrite snapshots. Every manifest in
    * [fromSnap, toSnap] must still be live (not expired).
    */
  def changelogRead(spark: SparkSession, root: String, fromSnap: Int,
      toSnap: Int): DataFrame = {
    val head = currentSnapshot(root)
    require(fromSnap >= 0 && toSnap <= head && fromSnap <= toSnap,
      s"changelog range ($fromSnap, $toSnap] out of [0, $head]")
    // RETENTION GUARD: attribution needs every manifest in
    // [max(1, fromSnap), toSnap] (each commit's pre-image included).
    // If retention ([[expire]]/[[expireOlderThan]]) removed one, fail
    // HERE with the snapshot named — not a NoSuchFileException deep in
    // manifest IO — so a CDF consumer whose checkpoint fell behind
    // retention gets an actionable signal: re-seed from a full
    // snapshot read, or widen retention past the checkpoint. (Same
    // interaction Delta CDF / Iceberg changelogs hit; they fail the
    // same way — the changelog cannot outlive the manifests.)
    val expiredInRange = (math.max(1, fromSnap) to toSnap).filterNot(i =>
      Files.exists(Paths.get(root, "meta", s"manifest-$i.json")))
    if (expiredInRange.nonEmpty)
      throw new IllegalStateException(
        s"changelog range ($fromSnap, $toSnap] of $root needs snapshot(s) " +
          s"${expiredInRange.mkString(", ")} whose manifests were expired by " +
          s"retention; re-seed the consumer from a snapshot read at $head or " +
          "keep retention wider than the consumer's checkpoint lag")
    val CT = "_change_type"; val CS = "_change_snap"
    def tag(d: DataFrame, kind: String, s: Int): DataFrame =
      d.withColumn(CT, lit(kind)).withColumn(CS, lit(s))
    val bcastRows = confLong(spark, BroadcastDeleteRowsKey,
      DefaultBroadcastDeleteRows)
    def hinted(keys: DataFrame, rows: Long): DataFrame =
      if (rows <= bcastRows) broadcast(keys) else keys
    // FLATTENED insert attribution: metadata-attributed commits defer
    // their insert frames here and are read in ONE scan per distinct
    // snapshot schema after the walk, `_change_snap` resolved per row
    // from the row's file coordinate through a path→snapshot map
    // literal (a single Literal node). The per-commit union used to
    // grow the plan by one parquet relation per commit in the range —
    // at stream cadence a long-lag refresh paid plan analysis linear
    // in range length for byte-identical output.
    val flatIns =
      scala.collection.mutable.ArrayBuffer[(Int, Seq[FileEntry], Manifest)]()
    val frames = ((fromSnap + 1) to toSnap).flatMap { s =>
      val m = manifest(root, s)
      val pre: Option[Manifest] = if (s == 1) None else Some(manifest(root, s - 1))
      val prePaths = pre.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
      val preDels = pre.map(_.deletes.toSet).getOrElse(Set.empty[DeleteEntry])
      val retired = pre.nonEmpty && (prePaths -- m.files.map(_.path)).nonEmpty
      // Metadata attribution is only sound when everything NEW in the
      // commit carries THIS commit's seq. A rollback (partsFrom)
      // re-references the target's files and delete entries under
      // their ORIGINAL seqs — a roll FORWARD whose target supersets
      // the pre-state retires nothing and adds nothing at seq s, yet
      // changes content; without this check it attributed as a
      // silent no-op (and an MV folding the feed went stale).
      val foreignNew = pre.nonEmpty && (
        m.files.exists(f => f.seq != s && !prePaths.contains(f.path)) ||
        m.deletes.exists(d => d.seq != s && !preDels.contains(d)) ||
        (preDels -- m.deletes.toSet).nonEmpty)
      if (retired || foreignNew) {
        // replace-type commit: no row-level metadata attribution —
        // diff the adjacent views (empty for pure maintenance). BOTH
        // diff directions come from ONE signed group-by-full-row
        // (each side read once, one shuffle): a signed count d ≠ 0
        // replicates |d| copies tagged insert (d > 0) or delete
        // (d < 0) — exactly the multiset the double exceptAll
        // produced, which planned each side TWICE (4 MoR-resolved
        // reads, 2 replicate-and-subtract shuffles). NULL grouping
        // matches exceptAll's NULL-safe equality.
        val pv = readFiles(spark, root, pre.get, pre.get.files)
        val post = readFiles(spark, root, m, m.files)
        val rowCols = post.columns.toIndexedSeq.map(col)
        val D = "_graft_cl_d"
        Seq(post.withColumn(D, lit(1L))
          .unionByName(pv.withColumn(D, lit(-1L)))
          .groupBy(rowCols: _*).agg(sum(col(D)).as(D))
          .filter(col(D) =!= 0L)
          .withColumn("_graft_cl_rep",
            explode(sequence(lit(1L), abs(col(D)))))
          .withColumn(CT, when(col(D) > 0L, lit("insert")).otherwise(lit("delete")))
          .withColumn(CS, lit(s))
          .drop(D, "_graft_cl_rep"))
      } else {
        val added = m.files.filter(_.seq == s)
        if (added.nonEmpty) flatIns += ((s, added, m))
        val delsAtS = m.deletes.filter(_.seq == s)
        val dels =
          if (delsAtS.isEmpty || pre.isEmpty) Nil
          else {
            val pm = pre.get
            val logicalName: Map[String, String] = pm.schema
              .filter(ColumnMapping.hasMapping)
              .map(ColumnMapping.toLogical).getOrElse(Map.empty)
            val posD = delsAtS.filter(_.kind == "pos")
            val eqD = delsAtS.filter(_.kind == "eq")
            val dvD = delsAtS.filter(_.kind == "dv")
            val eqFrames = eqD.groupBy(_.keyCol).toSeq.sortBy(_._1).map {
              case (kc, entries) =>
                val kcOut = logicalName.getOrElse(kc, kc)
                readFiles(spark, root, pm, pm.files).join(
                  hinted(spark.read.parquet(entries.map(_.path): _*)
                    .toDF(kcOut).distinct(), entries.map(_.rows).sum),
                  Seq(kcOut), "left_semi")
            }
            val posFrames =
              if (posD.isEmpty) Nil
              else Seq(readFiles(spark, root, pm, pm.files, coords = RowCoords).join(
                hinted(spark.read.parquet(posD.map(_.path): _*)
                  .select(col(CoordPath), col(CoordIdx)).distinct(),
                  posD.map(_.rows).sum),
                Seq(CoordPath, CoordIdx), "left_semi")
                .drop(CoordPath, CoordIdx))
            // dv pre-images: rows whose bit is SET in the snapshot's
            // deletion vectors (broadcast bitmap + bit probe, same
            // O(files) cost model as the read side)
            val dvFrames =
              if (dvD.isEmpty) Nil
              else {
                val dv = mergedDv(dvD.map(_.path))
                val dvDf = spark.createDataFrame(
                  java.util.Arrays.asList(dv.map { case (p, b) =>
                    org.apache.spark.sql.Row(p, b) }: _*),
                  StructType(Seq(
                    org.apache.spark.sql.types.StructField(CoordPath, StringType),
                    org.apache.spark.sql.types.StructField(DvCol,
                      org.apache.spark.sql.types.BinaryType))))
                import org.apache.spark.sql.graftshim.DsV2Shim
                Seq(readFiles(spark, root, pm, pm.files, coords = RowCoords)
                  .join(broadcast(dvDf), Seq(CoordPath), "inner")
                  .filter(DsV2Shim.exprColumn(graft.functions.DvContains(
                    DsV2Shim.columnExpr(col(DvCol)),
                    DsV2Shim.columnExpr(col(CoordIdx)))))
                  .drop(CoordPath, CoordIdx, DvCol))
              }
            (eqFrames ++ posFrames ++ dvFrames).map(tag(_, "delete", s))
          }
        dels
      }
    }
    // one scan per distinct snapshot schema over the deferred insert
    // commits (almost always exactly one — mid-range evolutions keep
    // their own scan so each file reads under ITS snapshot's schema);
    // a single-commit group keeps the legacy lit-tagged shape
    val insFrames: Seq[DataFrame] = {
      val groups = scala.collection.mutable.LinkedHashMap[
        String, scala.collection.mutable.ArrayBuffer[(Int, Seq[FileEntry], Manifest)]]()
      flatIns.foreach(t => groups.getOrElseUpdate(t._3.schemaJson,
        new scala.collection.mutable.ArrayBuffer) += t)
      groups.values.toSeq.map { g =>
        if (g.size == 1) {
          val (s, added, m) = g.head
          tag(readFiles(spark, root, m.copy(deletes = Nil), added), "insert", s)
        } else {
          val m0 = g.head._3
          val files = g.flatMap(_._2).toSeq
          val snapOf: Map[String, Int] =
            g.flatMap { case (s, fs, _) => fs.map(f => f.path -> s) }.toMap
          readFiles(spark, root, m0.copy(deletes = Nil), files, coords = Seq(CoordPath))
            .withColumn(CT, lit("insert"))
            .withColumn(CS, element_at(typedLit(snapOf), col(CoordPath)))
            .drop(CoordPath)
        }
      }
    }
    val allFrames = insFrames ++ frames
    if (allFrames.isEmpty) {
      val m = manifest(root, toSnap)
      val schema = m.schema.map(ColumnMapping.logicalClean)
        .getOrElse(readFiles(spark, root, m, m.files).schema)
      tag(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema), "insert", 0)
        .limit(0)
    } else allFrames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Time-based retention: expire every snapshot whose commit time is
    * at or before `cutoffMs` (the head always survives). Returns the
    * number of files reclaimed.
    */
  def expireOlderThan(root: String, cutoffMs: Long): Int = {
    val head = currentSnapshot(root)
    // a prior expiry already removed manifests below its keepFrom —
    // walk only the manifests that still exist, or the second
    // retention run dies on NoSuchFileException
    val keepFrom = (1 to head)
      .filter(i => Files.exists(Paths.get(root, "meta", s"manifest-$i.json")))
      .find(i => manifest(root, i).tsMs > cutoffMs)
      .getOrElse(head)
    if (keepFrom <= 1) 0 else expire(root, keepFrom)
  }

  /** Metadata-only snapshot history (Iceberg's `snapshots` metadata
    * table): one row per live manifest, computed entirely from
    * manifests — zero data-file IO regardless of table size.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = (1 to currentSnapshot(root))
      .filter(i => Files.exists(Paths.get(root, "meta", s"manifest-$i.json")))
      .map { i =>
        val m = manifest(root, i)
        (m.snapshotId.toLong, m.parentId.toLong, m.tsMs,
          m.files.size.toLong, m.files.count(_.seq == i).toLong,
          m.files.map(_.rows).sum, m.files.filter(_.seq == i).map(_.rows).sum,
          m.deletes.size.toLong, m.deletes.map(_.rows).sum, m.note)
      }
    import spark.implicits._
    rows.toDF("snap", "parent", "ts_ms", "n_files", "n_added_files",
      "n_rows", "n_added_rows", "n_delete_files", "n_delete_keys", "note")
  }

  /** The merge-on-read frame of `files` under manifest `m`: one DSv2
    * scan of the lake relation pinned at `m` with exactly these files
    * ([[graft.sources.GraftLakeTable.pinned]]), whose readers apply
    * every positional, deletion-vector and equality delete — the one
    * read path SQL takes too. The frame presents the snapshot's
    * logical names in stored order, every field nullable; a manifest
    * without a schema infers one from its files. The one plan choice:
    * a delete group the readers should not hold — an equality group
    * (one key column) or the positional group with more recorded rows
    * than [[BroadcastDeleteRowsKey]] allows, or an equality group whose
    * key type they have no probe for — comes off the pinned manifest
    * and is shuffle anti-joined instead (positional deletes on the row
    * coordinates), per set of files it applies to. `coords` names the
    * row-coordinate metadata columns ([[CoordPath]], [[CoordIdx]]) to
    * append.
    */
  private def readFiles(spark: SparkSession, root: String, m: Manifest,
      files: Seq[FileEntry], coords: Seq[String] = Nil): DataFrame = {
    // an avro container has no parquet row index for a positional or
    // deletion-vector delete to address
    require(!coords.contains(CoordIdx) || !files.exists(_.path.endsWith(".avro")),
      "avro data plane is append-only: positional/deletion-vector " +
        "deletes need parquet row indexes (use equality deletes)")
    val stored = m.schema.getOrElse(spark.read.parquet(files.map(_.path): _*).schema)
    val bcastRows = confLong(spark, BroadcastDeleteRowsKey,
      DefaultBroadcastDeleteRows)
    // (kind, key column) → the delete files of each group to anti-join
    def joined(f: FileEntry): Seq[((String, String), Seq[DeleteEntry])] =
      m.deletes.filter(d => d.kind != "dv" && d.seq > f.seq)
        .groupBy(d => (d.kind, d.keyCol)).toSeq.sortBy(_._1).filter {
          case ((kind, kc), es) =>
            es.map(_.rows).sum > bcastRows || (kind == "eq" &&
              ColumnMapping.fieldByPhysical(stored, kc)
                .exists(k => graft.sources.GraftScan.probeTag(k.dataType).isEmpty))
        }
    val groups = files.groupBy(joined).toSeq.sortBy(_._2.head.path)
    // delete files key by PHYSICAL name and hold exactly one column;
    // the frame presents logical names
    val logicalName = ColumnMapping.toLogical(stored)
    (if (groups.isEmpty) Seq(Nil -> files) else groups).map { case (joins, fs) =>
      val off = joins.flatMap(_._2).toSet
      val rel = org.apache.spark.sql.graftshim.DsV2Shim.tableFrame(spark,
        graft.sources.GraftLakeTable.pinned(spark, root,
          m.copy(files = fs, deletes = m.deletes.filterNot(off)), stored))
      // a positional anti-join needs both coordinates on its side
      val cs = if (joins.exists(_._1._1 == "pos")) RowCoords else coords
      val masked = joins.foldLeft(
        if (cs.isEmpty) rel else rel.select(col("*") +: cs.map(col): _*)) {
        // join conditions, not using columns: the frame keeps the
        // stored field order
        case (d, (("pos", _), es)) =>
          val keys = spark.read.parquet(es.map(_.path): _*)
            .select(col(CoordPath), col(CoordIdx)).distinct()
          d.join(keys, RowCoords.map(c => d(c) === keys(c)).reduce(_ && _), "left_anti")
        case (d, ((_, kc), es)) =>
          val k = logicalName.getOrElse(kc, kc)
          val keys = spark.read.parquet(es.map(_.path): _*).toDF(k).distinct()
          d.join(keys, d(k) === keys(k), "left_anti")
      }
      if (cs eq coords) masked else masked.drop(cs.filterNot(coords.contains): _*)
    }.reduce(_ unionByName _)
  }

  /** Stats-pruned read: keep only files whose [min,max] stat ranges
    * intersect EVERY predicate interval — `preds` over long-valued
    * stats (integers; timestamps in epoch micros), `strPreds` over
    * string stats (lexicographic; equality = (v, v)) — then apply the
    * row-level predicates to the survivors. Returns (rows,
    * filesTouched, filesTotal) — correctness never depends on pruning
    * (row filters re-check), pruning only bounds IO.
    */
  /** The manifest-stats file filter shared by [[prunedRead]] and the
    * DataSource scan planner: keep only files whose recorded ranges /
    * blooms can satisfy every predicate. Pruning is an IO bound, never
    * an answer — callers re-apply the row-level predicates.
    */
  private[graft] def filesMatching(files: Seq[FileEntry],
      preds: Map[String, (Long, Long)],
      strPreds: Map[String, (String, String)],
      pointPreds: Map[String, Seq[String]]): Seq[FileEntry] =
    files.filter { f =>
      preds.forall { case (c, (lo, hi)) =>
        f.stats.get(c).forall(st => st.kind != "i" || (st.min <= hi && st.max >= lo))
      } && strPreds.forall { case (c, (lo, hi)) =>
        // a null side marks an UNBOUNDED one-sided string bound
        // (range / prefix predicates translate to these — see
        // LakeFilters.translate); null compares as ±∞, keeping the file
        f.stats.get(c).forall(st =>
          st.kind != "s" ||
            ((hi == null || st.minS <= hi) && (lo == null || st.maxS >= lo)))
      } && pointPreds.forall { case (c, vs) =>
        // `col IN (vs)` may match this file iff ANY probe value passes
        // the file's bloom; a missing bloom keeps the file (pruning
        // only ever bounds IO).
        f.stats.get(c).forall(st =>
          st.bloom.isEmpty || vs.exists(v => bloomMayContain(st.bloom, v)))
      }
    }

  def prunedRead(spark: SparkSession, root: String,
      preds: Map[String, (Long, Long)],
      strPreds: Map[String, (String, String)] = Map.empty,
      asOf: Option[Int] = None,
      pointPreds: Map[String, Seq[String]] = Map.empty): (DataFrame, Int, Int) = {
    val m = manifest(root, asOf.getOrElse(currentSnapshot(root)))
    // per-file stats key by PHYSICAL name; callers predicate on
    // logical names
    val physMap = m.schema
      .filter(ColumnMapping.hasMapping)
      .map(ColumnMapping.toPhysical).getOrElse(Map.empty)
    def phys(c: String) = physMap.getOrElse(c, c)
    val keep = filesMatching(m.files,
      preds.map { case (k, v) => phys(k) -> v },
      strPreds.map { case (k, v) => phys(k) -> v },
      pointPreds.map { case (k, v) => phys(k) -> v })
    // empty survivor set: read the full list (filters still yield 0
    // rows) — avoids the no-path read edge while staying correct.
    val chosen = if (keep.nonEmpty) keep else m.files
    val base = readFiles(spark, root, m, chosen)
    val schema = base.schema
    def rowExpr(c: String): Column = schema(c).dataType match {
      case TimestampType => unix_micros(col(c))
      case DateType => datediff(col(c), to_date(lit("1970-01-01"))).cast("bigint")
      case _ => col(c)
    }
    val f1 = preds.foldLeft(base) { case (d, (c, (lo, hi))) =>
      d.filter(rowExpr(c) >= lo && rowExpr(c) <= hi)
    }
    val f2 = strPreds.foldLeft(f1) { case (d, (c, (lo, hi))) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }
    val f3 = pointPreds.foldLeft(f2) { case (d, (c, vs)) =>
      d.filter(col(c).cast("string").isin(vs: _*))
    }
    (f3, keep.size, m.files.size)
  }

  // ---------------- maintenance ----------------

  /** Expire snapshots older than `keepFrom`: delete data AND delete
    * files that are referenced ONLY by expired manifests (a rewrite
    * retires files from the current view but they stay on disk until
    * expiry — this is what reclaims them), then drop the expired
    * manifests. Time travel to snapshots ≥ `keepFrom` keeps working;
    * earlier snapshots become unreadable by design. Returns the
    * number of files deleted.
    */
  def expire(root: String, keepFrom: Int): Int = {
    val head = currentSnapshot(root)
    require(keepFrom >= 1 && keepFrom <= head, s"keepFrom $keepFrom out of [1, $head]")
    // expiring a PUBLISHED branch would reclaim data/parts the parent
    // chain re-references (the ownership filter below deliberately
    // permits deletion under this chain's own dir) — refuse, symmetric
    // with dropBranch's guard on the other side of the relationship.
    parentChainOf(root).foreach { pRoot =>
      require(!chainReferences(pRoot, Paths.get(root).toAbsolutePath.normalize),
        s"branch at $root was published: its files are live in $pRoot — " +
          "expire the referencing snapshots there first")
    }
    def paths(m: Manifest): Seq[String] =
      m.files.map(_.path) ++ m.deletes.map(_.path)
    // TAGGED snapshots are retention-pinned: they survive expiry (and
    // keep their files) regardless of age, until the tag is dropped.
    val tagged = tags(root).values.toSet
    // manifests below an earlier expiry's keepFrom are already gone —
    // only the surviving ones contribute expired paths
    val gone = (1 until keepFrom)
      .filterNot(tagged.contains)
      .filter(i => Files.exists(Paths.get(root, "meta", s"manifest-$i.json")))
    val keepSnaps = ((keepFrom to head) ++ tagged.filter(_ < keepFrom))
      .filter(i => Files.exists(Paths.get(root, "meta", s"manifest-$i.json")))
    // open BRANCHES re-reference main-chain files AND metadata parts
    // (the fork inherits the basis's parts) — every branch-reachable
    // path survives expiry
    val branchSnaps = branches(root).keys.toSeq.flatMap { b =>
      val bRoot = branchRoot(root, b)
      (1 to currentSnapshot(bRoot))
        .filter(i => Files.exists(Paths.get(bRoot, "meta", s"manifest-$i.json")))
        .map(i => (bRoot, i))
    }
    val branchKeep = branchSnaps.flatMap { case (b, i) => paths(manifest(b, i)) }.toSet
    val branchKeepParts = branchSnaps.flatMap { case (b, i) => rawParts(b, i) }.toSet
    val keep = keepSnaps.flatMap(i => paths(manifest(root, i))).toSet ++ branchKeep
    val expired = gone.flatMap(i => paths(manifest(root, i))).toSet
    // OWNERSHIP RULE: a chain only ever deletes files under its own
    // directory, and never under its branches/ subtree. A branch's
    // manifests also reference the PARENT chain's files (fork
    // inheritance) — expiring branch history must not reach into the
    // parent; and the parent's expiry must not reclaim branch-staged
    // files (published ones are live; unpublished ones belong to
    // dropBranch).
    val rootPath = Paths.get(root).toAbsolutePath.normalize
    val branchesPath = rootPath.resolve("branches")
    val orphans = (expired -- keep).filter { p =>
      val fp = Paths.get(new java.net.URI(p).getPath)
      fp.startsWith(rootPath) && !fp.startsWith(branchesPath)
    }
    orphans.foreach { p =>
      Files.deleteIfExists(Paths.get(new java.net.URI(p).getPath)): Unit
    }
    // metadata parts referenced only by expired manifests go with them
    // — under the SAME ownership rule as data files: a chain deletes
    // only parts in its OWN meta dir. A branch chain's manifests also
    // reference the parent's parts (fork inheritance), and the parent's
    // reference branch parts after publish; neither may reach across.
    val metaPath = rootPath.resolve("meta")
    val keptParts = keepSnaps.flatMap(i => rawParts(root, i)).toSet ++ branchKeepParts
    (gone.flatMap(i => rawParts(root, i)).toSet -- keptParts)
      .map(p => Paths.get(p).toAbsolutePath.normalize)
      .filter(_.startsWith(metaPath))
      .foreach(p => Files.deleteIfExists(p): Unit)
    gone.foreach { i =>
      Files.deleteIfExists(Paths.get(root, "meta", s"manifest-$i.json")): Unit
    }
    orphans.size
  }

  // ---------------- shallow clone ----------------

  /** ZERO-COPY SHALLOW CLONE (the Delta `SHALLOW CLONE` / Iceberg
    * snapshot-ref pattern): `dstRoot` becomes an INDEPENDENT table
    * whose first manifest is a verbatim copy of `srcRoot`'s head —
    * same file references, same metadata parts, zero data IO at any
    * table size. Writes to the clone land new files under `dstRoot`;
    * the source never changes. Snapshot numbering CONTINUES from the
    * source head (the same reasoning as [[branch]]: inherited
    * sequence numbers keep MoR delete scoping and incremental ranges
    * exact across the fork).
    *
    * Maintenance safety falls out of the ownership rule every
    * reclaim path already enforces ([[expire]]/[[expireOlderThan]]/
    * [[removeOrphans]] delete only under their own root): the clone
    * can never reclaim source files, and the source never sees the
    * clone's. The one shared-fate caveat is the industry-standard
    * one — expiring the REFERENCED snapshots on the source strands
    * the clone's inherited references (same as Delta shallow clones
    * under VACUUM); `_clone.json` records the provenance so an
    * operator can see the dependency.
    */
  def cloneTable(srcRoot: String, dstRoot: String): Int = {
    val head = currentSnapshot(srcRoot)
    require(head > 0, s"clone of empty table $srcRoot")
    require(currentSnapshot(dstRoot) == 0, s"clone target $dstRoot already exists")
    val srcPath = Paths.get(srcRoot).toAbsolutePath.normalize
    val dstPath = Paths.get(dstRoot).toAbsolutePath.normalize
    require(!dstPath.startsWith(srcPath) && !srcPath.startsWith(dstPath),
      s"clone target must not nest with the source ($srcRoot vs $dstRoot)")
    val dMeta = dstPath.resolve("meta")
    Files.createDirectories(dMeta)
    // schema, declared layout and CHECK constraints travel with the
    // clone (all pure metadata)
    Seq("_schema.json", "_layout.json", "_checks.json").foreach { f =>
      val s = Paths.get(srcRoot, "meta", f)
      if (Files.exists(s)) Files.copy(s, dMeta.resolve(f)): Unit
    }
    Files.writeString(dMeta.resolve("_clone.json"),
      s"""{"source":"${esc(srcPath.toString)}","basis":$head}""")
    try
      Files.copy(Paths.get(srcRoot, "meta", s"manifest-$head.json"),
        dMeta.resolve(s"manifest-$head.json")): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(s"clone to $dstRoot raced its own creation")
    }
    coordinator.advanceHead(dMeta, head)
    head
  }

  // ---------------- CHECK constraints ----------------

  /** Declared CHECK constraints: name → boolean SQL text, stored in
    * `meta/_checks.json`. Pure table metadata; enforcement happens
    * in-flight on the write paths (see LakeFormatWrite.applyChecks).
    */
  def checksOf(root: String): Map[String, String] = {
    val p = Paths.get(root, "meta", "_checks.json")
    if (!Files.exists(p)) Map.empty
    else {
      val node = mapper.readTree(Files.readString(p))
      asScala(node.fieldNames()).map(n => n -> node.get(n).asText())
        .toSeq.sortBy(_._1).toMap
    }
  }

  def setCheck(root: String, name: String, sql: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid constraint name '$name'")
    writeChecks(root, checksOf(root) + (name -> sql))
  }

  def dropCheck(root: String, name: String): Unit =
    writeChecks(root, checksOf(root) - name)

  private def writeChecks(root: String, checks: Map[String, String]): Unit = {
    val p = Paths.get(root, "meta", "_checks.json")
    if (checks.isEmpty) { Files.deleteIfExists(p): Unit; return }
    val body = checks.toSeq.sortBy(_._1)
      .map { case (n, s) => s""""${esc(n)}":"${esc(s)}"""" }.mkString(",")
    Files.createDirectories(p.getParent)
    Files.writeString(p, s"{$body}"): Unit
  }

  // ---------------- refs (tags) ----------------

  /** TAG a snapshot with a stable name (Iceberg's snapshot refs): one
    * immutable metadata file pinning `snap`. A tag is a retention
    * guarantee — [[expire]]/[[expireOlderThan]] keep tagged snapshots
    * (manifest AND files) alive regardless of age until [[dropTag]] —
    * so "the audited training-set cut" stays readable by name while
    * routine retention reclaims everything around it. Re-tagging an
    * existing name is rejected (tags are immutable; drop it first).
    */
  def tag(root: String, name: String, snap: Int): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name '$name'")
    // all-digit names are reserved for snapshot ids in `VERSION AS OF`
    // — an all-digit tag would be unreachable there (silently shadowed
    // by the snapshot number), so reject it at creation
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — indistinguishable from a snapshot id")
    val head = currentSnapshot(root)
    require(snap >= 1 && snap <= head, s"tag target $snap outside [1, $head]")
    require(Files.exists(Paths.get(root, "meta", s"manifest-$snap.json")),
      s"snapshot $snap is already expired")
    Files.createDirectories(refsDir(root))
    Files.writeString(refsDir(root).resolve(s"tag-$name"), snap.toString,
      java.nio.file.StandardOpenOption.CREATE_NEW): Unit
  }

  /** Drop a tag; returns whether it existed. The pinned snapshot
    * becomes reclaimable by the next expiry (if otherwise out of
    * retention).
    */
  def dropTag(root: String, name: String): Boolean =
    Files.deleteIfExists(refsDir(root).resolve(s"tag-$name"))

  /** All tags: name → snapshot id. */
  def tags(root: String): Map[String, Int] = {
    val d = refsDir(root)
    if (!Files.isDirectory(d)) Map.empty
    else {
      val st = Files.list(d)
      try asScala(st.iterator())
        .filter(_.getFileName.toString.startsWith("tag-"))
        .map(p => p.getFileName.toString.stripPrefix("tag-") ->
          Files.readString(p).trim.toInt)
        .toMap
      finally st.close()
    }
  }

  /** Time travel by tag name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val snap = tags(root).getOrElse(name,
      throw new NoSuchElementException(s"no tag '$name' on $root"))
    read(spark, root, Some(snap))
  }

  private def refsDir(root: String): Path = Paths.get(root, "meta", "refs")

  /** Orphan-file sweep (Iceberg's remove_orphan_files): delete data
    * files that NO live manifest references — the residue of aborted
    * commits (staged data whose committer died or exhausted its CAS
    * retries). `olderThanMs` guards against racing an in-flight
    * commit whose files are staged but whose manifest isn't written
    * yet. Returns the number of files deleted.
    */
  def removeOrphans(root: String, olderThanMs: Long = 0L): Int = {
    val head = currentSnapshot(root)
    // live = reachable from the MAIN chain or from any OPEN BRANCH
    // chain (a branch's fork manifest references main-chain files that
    // may no longer be referenced by any surviving main manifest)
    val liveSnaps = (1 to head).filter(i =>
        Files.exists(Paths.get(root, "meta", s"manifest-$i.json")))
      .map(i => (root, i)) ++
      branches(root).keys.toSeq.flatMap { b =>
        val bRoot = branchRoot(root, b)
        (1 to currentSnapshot(bRoot))
          .filter(i => Files.exists(Paths.get(bRoot, "meta", s"manifest-$i.json")))
          .map(i => (bRoot, i))
      }
    val live = liveSnaps
      .flatMap { case (r, i) =>
        val m = manifest(r, i)
        m.files.map(_.path) ++ m.deletes.map(_.path)
      }
      .map(p => Paths.get(new java.net.URI(p).getPath).toRealPath().toString)
      .toSet
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    var removed = 0
    val walk = Files.walk(dataRoot)
    try {
      walk.filter(p => Files.isRegularFile(p)).forEach { p =>
        val real = p.toRealPath().toString
        if (!live.contains(real) && Files.getLastModifiedTime(p).toMillis <= cutoff) {
          Files.deleteIfExists(p)
          removed += 1
        }
      }
    } finally walk.close()
    // drop now-empty staging dirs (cosmetic on a filesystem; object
    // stores have no dirs to clean)
    val dirs = Files.walk(dataRoot)
    try {
      dirs.sorted(java.util.Comparator.reverseOrder())
        .filter(p => Files.isDirectory(p) && p != dataRoot)
        .forEach { p =>
          val s = Files.list(p)
          val empty = try !s.findFirst().isPresent finally s.close()
          if (empty) Files.deleteIfExists(p): Unit
        }
    } finally dirs.close()
    // metadata parts no live manifest references — the residue of a
    // losing CAS attempt (its part was written, its manifest never
    // landed). Same age guard as data files.
    val liveParts = liveSnaps
      .flatMap { case (r, i) => rawParts(r, i) }
      .map(p => Paths.get(p).toRealPath().toString).toSet
    val metaDir = Paths.get(root, "meta")
    val partWalk = Files.list(metaDir)
    try {
      partWalk.filter(p => p.getFileName.toString.startsWith("part-")).forEach { p =>
        if (!liveParts.contains(p.toRealPath().toString) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff) {
          Files.deleteIfExists(p)
          removed += 1
        }
      }
    } finally partWalk.close()
    removed
  }

  // ---------------- ANALYZE: persisted column-level statistics ----------------

  /** Linear-counting bitmap width for per-file NDV sketches. 65536
    * buckets = 8 KiB per (file, column) at full occupancy (the
    * `BitSet.toByteArray` encoding is sized to the highest set bit,
    * so low-cardinality sketches stay tiny): accurate to a few
    * percent up to several hundred thousand distincts per file —
    * real task-sized-file headroom, where the old 1024-bucket width
    * saturated around ~1k and fed the CBO a floor exactly on the
    * tables big enough to need join reordering. Above the usable
    * range the estimator returns the bucket count as a RECOGNIZED
    * saturation floor (`ndvSaturated`), never a fabricated number.
    * Sidecars record their width (`buckets`), so estimation always
    * uses the width the sketch was built at; a width change triggers
    * a full re-sketch on the next ANALYZE (bitmaps of different
    * widths must not OR together).
    */
  val NdvBuckets = 65536

  /** Per-file, per-column ANALYZE sketch: exact null count, exact
    * total value length, 256-codepoint-truncated string min/max, and
    * a [[NdvBuckets]]-bit linear-counting bitmap over md5-derived
    * value hashes. Bitmaps are MERGEABLE (bitwise OR), so a
    * table-level — or post-pruning, per-file-subset — distinct-count
    * estimate folds from any file set without re-reading data, and
    * re-ANALYZE after appends sketches only the new files (data files
    * are immutable by path). The hash is the engine's md5-derived
    * convention, so a SQL oracle replays occupancy exactly.
    */
  /** Equi-height histogram geometry: [[HistBins]] value-range
    * segments per numeric column, boundaries derived ONCE (the first
    * ANALYZE of a sidecar takes equi-height quantiles of the
    * then-current data and records them as `hist_bounds`), per-file
    * counts over those FIXED boundaries thereafter — fixed-boundary
    * counts are the mergeable form: they sum across any file subset
    * and incremental re-ANALYZE sketches only new files. Per-bin NDV
    * rides a small [[HistNdvBuckets]]-bit linear-counting bitmap
    * (heavy skewed values show as high-count, ndv≈1 bins — exactly
    * what uniform-NDV selectivity cannot see).
    */
  val HistBins = 64
  val HistNdvBuckets = 128

  /** One histogram segment of a per-file sketch: fixed-boundary bin
    * index, row count, the ACTUAL value range that landed in it, and
    * the per-bin NDV bitmap (hex).
    */
  final case class HistBin(bin: Int, rows: Long, lo: Double, hi: Double,
      bitsHex: String) {
    def bits: java.util.BitSet =
      java.util.BitSet.valueOf(
        bitsHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray)
  }

  final case class ColSketch(nulls: Long, sumLen: Long, minS: String,
      maxS: String, bitsHex: String, hist: Seq[HistBin] = Nil) {
    def bits: java.util.BitSet =
      java.util.BitSet.valueOf(
        bitsHex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray)
  }

  /** One analyzed file: manifest row count + per-column sketches. */
  final case class FileSketch(rows: Long, cols: Map[String, ColSketch])

  final case class ColStatsMeta(analyzedSnapshot: Int,
      files: Map[String, FileSketch], buckets: Int = NdvBuckets,
      // numeric-column histogram boundaries (interior quantile edges,
      // distinct + sorted) the per-file bin counts were keyed on
      bounds: Map[String, Seq[Double]] = Map.empty,
      // whether the sidecar was written by a histogram-era ANALYZE
      // (the `hist_bounds` key present, even empty) — a pre-era
      // sidecar on a numeric table must invalidate once so its files
      // re-sketch WITH bins, instead of silently never gaining them
      histEra: Boolean = false)

  private def colStatsPath(root: String) =
    Paths.get(root, "meta", "_colstats.json")

  /** Canonical sketch key for a data-file path: manifests record some
    * paths with a `file:` scheme and some plain; sketches key on the
    * scheme-less filesystem path so both forms resolve.
    */
  private def sketchKey(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  /** Public alias for metadata-table consumers. */
  def sketchKeyOf(p: String): String = sketchKey(p)

  /** Parsed `_colstats.json`; None when the table was never analyzed.
    * Cached by file mtime (ANALYZE rewrites atomically).
    */
  def colStats(root: String): Option[ColStatsMeta] = {
    val p = colStatsPath(root)
    if (!Files.exists(p)) None
    else {
      val mtime = Files.getLastModifiedTime(p).toMillis
      Option(colStatsCache.get(root)).filter(_._1 == mtime).map(_._2)
        .orElse {
          val node = mapper.readTree(Files.readString(p))
          val files = asScala(node.get("files").properties().iterator()).map { e =>
            val fn = e.getValue
            val cols = asScala(fn.get("cols").properties().iterator()).map { c =>
              val cn = c.getValue
              val hist = Option(cn.get("hist")).map { hn =>
                val it = hn.elements()
                Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
                  .map(b => HistBin(b.get(0).asInt(), b.get(1).asLong(),
                    b.get(2).asDouble(), b.get(3).asDouble(),
                    b.get(4).asText())).toSeq
              }.getOrElse(Nil)
              c.getKey -> ColSketch(cn.get("nulls").asLong(),
                cn.get("sum_len").asLong(),
                if (cn.get("min").isNull) null else cn.get("min").asText(),
                if (cn.get("max").isNull) null else cn.get("max").asText(),
                cn.get("bits").asText(), hist)
            }.toMap
            e.getKey -> FileSketch(fn.get("rows").asLong(), cols)
          }.toMap
          val boundsNode = Option(node.get("hist_bounds"))
          val bounds = boundsNode.map { bn =>
            asScala(bn.properties().iterator()).map { e =>
              val it = e.getValue.elements()
              e.getKey -> Iterator.continually(it).takeWhile(_.hasNext)
                .map(_.next().asDouble()).toSeq
            }.toMap
          }.getOrElse(Map.empty[String, Seq[Double]])
          val meta = ColStatsMeta(node.get("analyzed_snapshot").asInt(), files,
            // sidecars predating the width field were 1024-bucket
            Option(node.get("buckets")).map(_.asInt()).getOrElse(1024),
            bounds, histEra = boundsNode.isDefined)
          colStatsCache.put(root, (mtime, meta))
          Some(meta)
        }
    }
  }

  private val colStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, ColStatsMeta)]()

  /** Linear-counting estimate from an occupied-bucket count:
    * `-m·ln(1 − occ/m)`, the standard estimator; a saturated bitmap
    * falls back to the bucket count (a floor — callers treat it as
    * "at least this many"; [[ndvSaturated]] is the verdict).
    */
  def ndvEstimate(occupied: Int, m: Int = NdvBuckets): Long =
    if (occupied <= 0) 0L
    else if (occupied >= m) m.toLong
    else math.round(-m.toDouble * math.log1p(-occupied.toDouble / m))

  /** Saturation verdict for a merged occupancy: a fully occupied
    * bitmap cannot distinguish m distincts from 100·m, so the
    * estimate is only a floor — consumers (t.stats, CBO) must treat
    * it as "at least", never as a cardinality.
    */
  def ndvSaturated(occupied: Int, m: Int = NdvBuckets): Boolean =
    occupied >= m

  /** Merged per-column statistics over a file SUBSET (e.g. the
    * survivors of manifest pruning): None unless every requested path
    * is sketched (stale analysis after an un-analyzed append serves
    * nothing rather than something wrong). Per column:
    * (occupiedBuckets, nullCount, sumLen, totalRows) — only columns
    * every file sketches.
    */
  def mergedColStats(meta: ColStatsMeta, paths: Seq[String])
      : Option[Map[String, (Int, Long, Long, Long)]] = {
    val keys = paths.map(sketchKey)
    if (keys.isEmpty || !keys.forall(meta.files.contains)) None
    else {
      val sketches = keys.map(meta.files)
      val shared = sketches.map(_.cols.keySet).reduce(_ intersect _)
      Some(shared.iterator.map { c =>
        val bits = new java.util.BitSet(NdvBuckets)
        var nulls = 0L; var sumLen = 0L; var rows = 0L
        sketches.foreach { fs =>
          val cs = fs.cols(c)
          bits.or(cs.bits); nulls += cs.nulls; sumLen += cs.sumLen
          rows += fs.rows
        }
        c -> ((bits.cardinality(), nulls, sumLen, rows))
      }.toMap)
    }
  }

  /** Merged equi-height histogram of `colName` over a file subset:
    * per fixed-boundary bin, (rows, actual lo, actual hi, NDV
    * estimate) — counts sum, ranges union, per-bin NDV bitmaps OR
    * (linear counting at [[HistNdvBuckets]]). None unless the sidecar
    * carries boundaries for the column and every requested file
    * sketches it (an empty per-file hist = a file with no non-null
    * numeric rows — a zero contribution, still covered).
    */
  def mergedHist(meta: ColStatsMeta, paths: Seq[String], colName: String)
      : Option[Seq[(Long, Double, Double, Long)]] = {
    if (!meta.bounds.contains(colName)) return None
    val keys = paths.map(sketchKey)
    if (keys.isEmpty || !keys.forall(meta.files.contains)) return None
    val sketches = keys.map(meta.files)
    if (!sketches.forall(_.cols.contains(colName))) return None
    val byBin = sketches.flatMap(_.cols(colName).hist)
      .groupBy(_.bin).toSeq.sortBy(_._1)
    if (byBin.isEmpty) return None
    Some(byBin.map { case (_, bs) =>
      val bits = new java.util.BitSet(HistNdvBuckets)
      bs.foreach(b => bits.or(b.bits))
      (bs.map(_.rows).sum, bs.map(_.lo).min, bs.map(_.hi).max,
        math.max(1L, ndvEstimate(bits.cardinality(), HistNdvBuckets)))
    })
  }

  /** Count of live head data files ABSENT from the stats sidecar —
    * the auto-ANALYZE policy's trigger probe (metadata-only).
    */
  def unsketchedCount(root: String, head: Int): Int = {
    val m = manifest(root, head)
    val prior = colStats(root).filter(_.buckets == NdvBuckets)
      .map(_.files).getOrElse(Map.empty)
    m.files.map(_.path).distinct.count(p => !prior.contains(sketchKey(p)))
  }

  /** The heaviest merged-histogram bin's share (permille of its
    * column's histogrammed rows) across all bounded columns at the
    * current head — the equi-height DRIFT probe: fixed boundaries
    * serving a shifted distribution collapse rows into few bins, and
    * a share past the policy bound triggers a boundary rebuild. None
    * when no column carries histograms.
    */
  def histTopBinPermille(root: String): Option[Long] =
    colStats(root).flatMap { meta =>
      val head = currentSnapshot(root)
      if (head <= 0) return None
      val paths = manifest(root, head).files.map(_.path).distinct
      meta.bounds.keys.flatMap { c =>
        mergedHist(meta, paths, c).flatMap { bins =>
          val total = bins.map(_._1).sum
          if (total <= 0L) None else Some(bins.map(_._1).max * 1000L / total)
        }
      }.maxOption
    }

  /** Drop the stats sidecar — the boundary-rebuild path: the next
    * ANALYZE re-sketches every file and derives FRESH equi-height
    * boundaries over the current data.
    */
  def dropColStats(root: String): Unit = {
    Files.deleteIfExists(colStatsPath(root))
    colStatsCache.remove(root): Unit
  }

  /** ANALYZE TABLE: compute per-file column sketches for every live
    * data file the current snapshot resolves to, incrementally — only
    * files absent from the existing `_colstats.json` are read (ONE
    * distributed melt job over the new files; a re-run after an
    * append costs the append, never the table). The result is written
    * atomically and serves three consumers: the `t.stats` metadata
    * table, [[graft.sources]] scan-time `columnStats` (merged over
    * the PRUNED file set — NDV that tightens with pruning), and
    * Spark's CBO (distinct counts drive join reordering).
    *
    * Returns (analyzed snapshot, newly sketched file count).
    */
  def analyze(s: SparkSession, root: String): (Int, Int) = {
    import org.apache.spark.sql.functions._
    val head = currentSnapshot(root)
    require(head > 0, s"ANALYZE on empty table $root")
    val m = manifest(root, head)
    val rowsOf: Map[String, Long] =
      m.files.groupBy(f => sketchKey(f.path)).map { case (p, fs) => p -> fs.head.rows }
    // a sketch-width change invalidates the whole sidecar (bitmaps of
    // different widths must not OR together): re-sketch everything.
    // So does a PRE-HISTOGRAM-ERA sidecar (no `hist_bounds` key at
    // all) on a table with numeric columns: its files would otherwise
    // count as "already sketched" forever and bins would silently
    // never appear — invalidating once re-reads them WITH boundary
    // derivation. (A histogram-era sidecar whose bounds are merely
    // empty — all-null numeric data — stays valid: re-reading it
    // could not derive bounds either.)
    val tableHasNumeric = storedSchemaOf(root).exists(_.fields.exists(f =>
      f.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType => true
        case _ => false
      }))
    val priorMeta = colStats(root).filter(_.buckets == NdvBuckets)
      .filterNot(pm => !pm.histEra && tableHasNumeric)
    val prior = priorMeta.map(_.files).getOrElse(Map.empty)
    val newPaths = m.files.map(_.path).distinct
      .filterNot(p => prior.contains(sketchKey(p)))
    // histogram boundaries: reused from the sidecar when present —
    // fixed boundaries are what makes per-file bin counts mergeable
    // and incremental; a FRESH sidecar derives them below from
    // equi-height quantiles of the current data
    var histBounds: Map[String, Seq[Double]] =
      priorMeta.map(_.bounds).getOrElse(Map.empty)
    val fresh: Map[String, FileSketch] =
      if (newPaths.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.types._
        def sketchable(schema: StructType): Seq[String] = schema.fields.collect {
          case f if (f.dataType match {
            case StringType | LongType | IntegerType | ShortType | ByteType |
                 DoubleType | FloatType | BooleanType | DateType |
                 TimestampType | TimestampNTZType => true
            case _: DecimalType => true
            case _ => false
          }) => f.name
        }.toSeq
        def melt(raw: org.apache.spark.sql.DataFrame, fCol: Column,
            cols: Seq[String]): org.apache.spark.sql.DataFrame =
          raw.select(fCol.as("__f"),
            explode(array(cols.map(c =>
              struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("kv"))
            .select(col("__f"), col("kv.c").as("c"), col("kv.v").as("v"))
        // the avro plane's files melt through the lake scan, each row
        // attributed by its file coordinate (no input_file_name
        // there; avro tables forbid column mapping, so the scan's
        // names are the files'); both formats land in the same
        // (file, column) sketch shuffle
        val (avroPaths, pqPaths) = newPaths.partition(_.endsWith(".avro"))
        val frames = Seq(
          if (pqPaths.isEmpty) None else {
            val raw = s.read.option("mergeSchema", "true").parquet(pqPaths: _*)
            val cols = sketchable(raw.schema)
            require(cols.nonEmpty, s"no sketchable columns in $root")
            Some(melt(raw, input_file_name(), cols))
          },
          if (avroPaths.isEmpty) None else {
            val avro = avroPaths.toSet
            val raw = readFiles(s, root, m.copy(deletes = Nil),
              m.files.filter(f => avro(f.path)), coords = Seq(CoordPath))
            val cols = sketchable(m.schema.get)
            require(cols.nonEmpty, s"no sketchable columns in $root")
            Some(melt(raw, col(CoordPath), cols))
          }).flatten
        val melted = frames.reduce(_.unionByName(_))
        // one shuffle keyed (file, column); the bitmap is a ≤1024-int
        // distinct-position set, exact null/length accounting rides
        // the same pass; min/max truncate to 256 CODEPOINTS (prefix
        // truncation commutes with lexicographic min/max, and Spark's
        // substring counts codepoints like the SQL oracle's substr)
        val agg = melted.groupBy(col("__f"), col("c")).agg(
          (count(lit(1)) - count(col("v"))).as("nulls"),
          coalesce(sum(length(col("v"))), lit(0L)).as("sum_len"),
          min(substring(col("v"), 1, 256)).as("min_v"),
          max(substring(col("v"), 1, 256)).as("max_v"),
          sort_array(collect_set(pmod(
            graft.functions.TextFns.hash60Composed(col("v")),
            lit(NdvBuckets.toLong)).cast("int"))).as("pos"))
        val perFile = agg.collect().groupBy { r =>
          // input_file_name is a URI; manifest paths are plain
          new java.net.URI(r.getString(0)).getPath
        }
        val baseSketches: Map[String, FileSketch] = perFile.map { case (path, rs) =>
          path -> FileSketch(rowsOf(path), rs.map { r =>
            val bits = new java.util.BitSet(NdvBuckets)
            r.getSeq[Int](6).foreach(bits.set)
            r.getString(1) -> ColSketch(r.getLong(2), r.getLong(3),
              if (r.isNullAt(4)) null else r.getString(4),
              if (r.isNullAt(5)) null else r.getString(5),
              bits.toByteArray.map(b => f"${b & 0xff}%02x").mkString)
          }.toMap)
        }
        // ---- equi-height HISTOGRAM sketches over numeric columns:
        // fixed-boundary per-file bin counts (+ per-bin NDV bitmaps,
        // actual per-bin value ranges). A fresh sidecar derives the
        // boundaries from equi-height quantiles of the NEW files
        // (= the whole table on first ANALYZE); later runs reuse the
        // stored boundaries so counts stay mergeable across files.
        def numericCols(schema: StructType): Seq[String] =
          schema.fields.collect {
            case f if (f.dataType match {
              case ByteType | ShortType | IntegerType | LongType |
                   FloatType | DoubleType => true
              case _ => false
            }) => f.name
          }.toSeq
        val numCols: Seq[String] = (
          (if (pqPaths.isEmpty) Nil
           else numericCols(
             s.read.option("mergeSchema", "true").parquet(pqPaths: _*).schema)) ++
          (if (avroPaths.isEmpty) Nil
           else numericCols(m.schema.get))
        ).distinct
        // NaN/±Infinity never enter bounds or bins: the sidecar
        // serializes doubles as bare JSON literals, and a NaN token
        // would make it unparseable on the next read (non-finite rows
        // still count in the base sketch's nulls/min/max pass)
        def finite(c: Column): Column =
          c.isNotNull && !isnan(c) &&
            c =!= lit(Double.PositiveInfinity) &&
            c =!= lit(Double.NegativeInfinity)
        if (prior.isEmpty && numCols.nonEmpty) {
          val probs = (1 until HistBins).map(i => i.toDouble / HistBins)
          val nm = melted.filter(col("c").isin(numCols: _*))
            .select(col("c"), col("v").cast("double").as("vd"))
            .filter(finite(col("vd")))
          histBounds = nm.groupBy(col("c"))
            .agg(expr(s"percentile_approx(vd, array(${probs.mkString(",")}), 10000)")
              .as("qs"))
            .collect().map { r =>
              r.getString(0) -> r.getSeq[Double](1).distinct.sorted
            }.toMap
        }
        val histCols = numCols.filter(histBounds.contains)
        if (histCols.isEmpty) baseSketches
        else {
          import s.implicits._
          val edgesDf = broadcast(
            histCols.map(c => (c, histBounds(c))).toDF("c", "edges"))
          val binned = melted.filter(col("c").isin(histCols: _*))
            .withColumn("vd", col("v").cast("double"))
            .filter(finite(col("vd")))
            .join(edgesDf, "c")
            // bin = count of interior edges strictly below the value:
            // ties collapse onto one bin, the serve-time rebalance
            // re-expands heavy bins into equal-height duplicates
            .withColumn("bin", size(filter(col("edges"),
              e => e < col("vd"))))
            .groupBy(col("__f"), col("c"), col("bin"))
            .agg(count(lit(1)).as("rows"),
              min(col("vd")).as("lo"), max(col("vd")).as("hi"),
              sort_array(collect_set(pmod(
                graft.functions.TextFns.hash60Composed(col("v")),
                lit(HistNdvBuckets.toLong)).cast("int"))).as("pos"))
          val histPerFile: Map[String, Map[String, Seq[HistBin]]] =
            binned.collect().groupBy(r => new java.net.URI(r.getString(0)).getPath)
              .map { case (path, rs) =>
                path -> rs.groupBy(_.getString(1)).map { case (c, brs) =>
                  c -> brs.map { r =>
                    val bits = new java.util.BitSet(HistNdvBuckets)
                    r.getSeq[Int](6).foreach(bits.set)
                    HistBin(r.getInt(2), r.getLong(3), r.getDouble(4),
                      r.getDouble(5),
                      bits.toByteArray.map(b => f"${b & 0xff}%02x").mkString)
                  }.sortBy(_.bin).toSeq
                }
              }
          baseSketches.map { case (path, fsk) =>
            val hs = histPerFile.getOrElse(path, Map.empty)
            path -> fsk.copy(cols = fsk.cols.map { case (c, sk) =>
              c -> (hs.get(c) match {
                case Some(h) => sk.copy(hist = h)
                case None => sk
              })
            })
          }
        }
      }
    val all = prior ++ fresh
    // keep only files the CURRENT snapshot references (files retired
    // by compaction/rewrite drop out of the sidecar)
    val live = all.view.filterKeys(rowsOf.contains).toMap
    val body = {
      val fs = live.toSeq.sortBy(_._1).map { case (p, fsk) =>
        val cs = fsk.cols.toSeq.sortBy(_._1).map { case (c, sk) =>
          val mn = if (sk.minS == null) "null" else s""""${esc(sk.minS)}""""
          val mx = if (sk.maxS == null) "null" else s""""${esc(sk.maxS)}""""
          val hist =
            if (sk.hist.isEmpty) ""
            else sk.hist.map(b =>
              s"""[${b.bin},${b.rows},${b.lo},${b.hi},"${b.bitsHex}"]""")
              .mkString(""","hist":[""", ",", "]")
          s""""${esc(c)}":{"nulls":${sk.nulls},"sum_len":${sk.sumLen},"min":$mn,"max":$mx,"bits":"${sk.bitsHex}"$hist}"""
        }.mkString(",")
        s""""${esc(p)}":{"rows":${fsk.rows},"cols":{$cs}}"""
      }.mkString(",")
      // the key is ALWAYS emitted (empty when no boundaries derived):
      // its presence is the histogram-era marker that keeps the
      // pre-era invalidation above from re-firing; bounds are
      // finite-filtered defensively (a NaN/Infinity literal is not
      // valid JSON)
      val hb = histBounds.toSeq.sortBy(_._1).map { case (c, es) =>
          s""""${esc(c)}":[${es.filter(java.lang.Double.isFinite).mkString(",")}]"""
        }.mkString(""","hist_bounds":{""", ",", "}")
      s"""{"analyzed_snapshot":$head,"buckets":$NdvBuckets$hb,"files":{$fs}}"""
    }
    val target = colStatsPath(root)
    val tmp = target.resolveSibling(s"_colstats.tmp-${System.nanoTime()}")
    Files.writeString(tmp, body)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    (head, newPaths.size)
  }

  // ---------------- manifest (de)serialization ----------------

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** One commit's incremental metadata: its added files + deletes. */
  private def partJson(files: Seq[FileEntry], deletes: Seq[DeleteEntry],
      removed: Seq[String] = Nil): String = {
    val fs = files.map { f =>
      val st = f.stats.toSeq.sortBy(_._1).map { case (c, cs) =>
        // base64 is JSON-safe; bloom rides any kind
        val bl = if (cs.bloom.isEmpty) "" else s""","bloom":"${cs.bloom}""""
        if (cs.kind == "s")
          s""""${esc(c)}":{"kind":"s","min":"${esc(cs.minS)}","max":"${esc(cs.maxS)}"$bl}"""
        else if (cs.kind == "b")
          s""""${esc(c)}":{"kind":"b"$bl}"""
        else
          s""""${esc(c)}":{"min":${cs.min},"max":${cs.max}$bl}"""
      }.mkString(",")
      s"""{"path":"${esc(f.path)}","rows":${f.rows},"seq":${f.seq},"bytes":${f.bytes},"bucket":${f.bucket},"stats":{$st}}"""
    }.mkString(",")
    val ds = deletes.map { d =>
      s"""{"path":"${esc(d.path)}","key":"${esc(d.keyCol)}","rows":${d.rows},"seq":${d.seq},"kind":"${d.kind}"}"""
    }.mkString(",")
    // `removed`: RETIREMENT TOMBSTONES — paths this commit removes
    // from the live view while the rest of the parent's inventory is
    // inherited by part reference. This is what keeps a surgical
    // overwrite's metadata O(touched + new) instead of O(table):
    // resolution subtracts tombstones from earlier parts in order.
    // Absent on parts written before the field existed (and on every
    // pure append), so old metadata parses unchanged.
    val rm =
      if (removed.isEmpty) ""
      else removed.map(p => s""""${esc(p)}"""").mkString(""","removed":[""", ",", "]")
    s"""{"files":[$fs],"deletes":[$ds]$rm}"""
  }

  /** Snapshot metadata + the ordered part-path list — O(commits),
    * independent of table file count.
    */
  private def manifestJson(m: Manifest, parts: Seq[String]): String = {
    val ps = parts.map(p => s""""${esc(p)}"""").mkString(",")
    s"""{"snapshot_id":${m.snapshotId},"parent_id":${m.parentId},"ts_ms":${m.tsMs},"note":"${esc(m.note)}","bucket_col":"${esc(m.bucketCol)}","n_buckets":${m.nBuckets},"schema":"${esc(m.schemaJson)}","parts":[$ps]}"""
  }

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def asScala[T](it: java.util.Iterator[T]) =
    scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala

  /** Immutable-part cache: a part is written once (CREATE_NEW) and
    * never modified, so parsed content is cacheable for the JVM
    * lifetime; entries are metadata-sized.
    */
  private val partCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[FileEntry], Seq[DeleteEntry], Seq[String])]()

  private def loadPart(path: String): (Seq[FileEntry], Seq[DeleteEntry], Seq[String]) =
    partCache.computeIfAbsent(path, { p =>
      val node = mapper.readTree(Files.readString(Paths.get(p)))
      val files = asScala(node.get("files").elements()).map { f =>
        val statsNode = f.get("stats")
        val stats = asScala(statsNode.fieldNames()).map { c =>
          val sn = statsNode.get(c)
          val bloom = if (sn.has("bloom")) sn.get("bloom").asText() else ""
          val kind = if (sn.has("kind")) sn.get("kind").asText() else "i"
          c -> (kind match {
            case "s" => ColStats(0, 0, "s", sn.get("min").asText(),
              sn.get("max").asText(), bloom)
            case "b" => ColStats(0, 0, "b", bloom = bloom)
            case _ => ColStats(sn.get("min").asLong(), sn.get("max").asLong(),
              bloom = bloom)
          })
        }.toMap
        FileEntry(f.get("path").asText(), f.get("rows").asLong(), stats,
          if (f.has("seq")) f.get("seq").asInt() else 0,
          if (f.has("bytes")) f.get("bytes").asLong() else -1L,
          if (f.has("bucket")) f.get("bucket").asInt() else -1)
      }.toSeq
      val deletes = asScala(node.get("deletes").elements()).map { d =>
        DeleteEntry(d.get("path").asText(), d.get("key").asText(),
          d.get("rows").asLong(), d.get("seq").asInt(),
          if (d.has("kind")) d.get("kind").asText() else "eq")
      }.toSeq
      val removed =
        if (node.has("removed"))
          asScala(node.get("removed").elements()).map(_.asText()).toSeq
        else Nil
      (files, deletes, removed)
    })

  /** Number of metadata PARTS a snapshot's manifest references — the
    * per-planning-call part-read cost [[rewriteManifests]] resets to 1.
    */
  def partCount(root: String, snap: Int): Int = rawParts(root, snap).size

  /** A snapshot's raw part-path list (commit-count-sized). */
  private def rawParts(root: String, snap: Int): Seq[String] = {
    val node = mapper.readTree(
      Files.readString(Paths.get(root, "meta", s"manifest-$snap.json")))
    asScala(node.get("parts").elements()).map(_.asText()).toSeq
  }

  /** Load a snapshot's RESOLVED manifest: snapshot metadata from
    * `manifest-<snap>.json`, file/delete inventory concatenated from
    * its immutable parts (each parsed once per JVM).
    */
  /** Test-visible manifest-resolution counter: specs pin metadata-IO
    * complexity bounds (e.g. CdcApply's replay ledger is O(batch) per
    * applied micro-batch, not O(commit history)) by diffing this
    * across a call. THREAD-LOCAL so concurrent suites in one JVM
    * don't contaminate each other's deltas (all manifest resolution
    * happens on the calling driver thread); one volatile-free long
    * bump per resolution — negligible.
    */
  private[graft] val manifestResolutions =
    new ThreadLocal[Array[Long]] { override def initialValue = Array(0L) }
  private[graft] def manifestReadCount: Long = manifestResolutions.get()(0)

  /** All manifest notes of `root`'s live chain — INCREMENTALLY
    * maintained per JVM: each call walks only the manifests committed
    * since the previous call (O(delta), amortized O(1) per commit),
    * so note-keyed idempotence checks (the index appendBatch ledgers)
    * never become the O(commit-history) scan the CdcApply watermark
    * was built to avoid. Notes of since-EXPIRED manifests stay in the
    * set — conservative in the right direction for replay dedupe (a
    * batch that once landed is never re-applied). A fresh process
    * pays one full walk per table, then deltas.
    */
  private val noteCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Set[String])]()

  def manifestNotes(root: String): Set[String] = {
    val head = currentSnapshot(root)
    // atomic read-extend-publish (compute, not get-then-put): two
    // concurrent callers can't interleave and publish a (head, notes)
    // pair whose head was read BEFORE the other thread's commit. A
    // cached head ABOVE the table's current head means the directory
    // was removed and recreated at the same path — drop the stale
    // entry and rebuild, instead of serving "already landed" notes
    // that would silently skip legitimate appends on the new table.
    noteCache.compute(root, (_, cached) => {
      val cur = if (cached != null && cached._1 > head) null else cached
      if (cur != null && cur._1 == head) cur
      else {
        val from = if (cur == null) 0 else cur._1
        val base = if (cur == null) Set.empty[String] else cur._2
        val upd = base ++ ((from + 1) to head).flatMap { i =>
          // tolerate retention holes below the keep-point
          if (Files.exists(Paths.get(root, "meta", s"manifest-$i.json")))
            Some(manifest(root, i).note)
          else None
        }
        (head, upd)
      }
    })._2
  }

  private val rollbackNoteRe = "^rollback-(\\d+)$".r

  /** Walk the manifest notes downward from the head FOLLOWING WHAT
    * THE HEAD'S CONTENT REFLECTS, and return the first note `extract`
    * accepts. A `rollback-N` commit re-references snapshot N's files,
    * so the walk JUMPS to N — the numerically-adjacent manifests
    * below a rollback belong to the abandoned newer line, and their
    * notes describe content the head no longer holds (an MV basis
    * found there would silently skip the rolled-back changes on the
    * next refresh). A `truncate` ends the walk: nothing below it is
    * in the view. Plain content-preserving maintenance commits
    * (compaction, rewrite-manifests) and retention holes are stepped
    * over numerically, the pre-existing convention.
    */
  def findContentNote[T](root: String)(extract: String => Option[T]): Option[T] = {
    var i = currentSnapshot(root)
    while (i >= 1) {
      if (Files.exists(Paths.get(root, "meta", s"manifest-$i.json"))) {
        val note = manifest(root, i).note
        extract(note) match {
          case some @ Some(_) => return some
          case None => note match {
            case rollbackNoteRe(n) => i = n.toInt
            case "truncate" => return None
            case _ => i -= 1
          }
        }
      } else i -= 1
    }
    None
  }

  /** Notes of the maintenance commits [[AutoMaintain.afterCommit]]
    * lands on top of a writer's commit; each re-lays content already
    * in the table.
    */
  private val MaintenanceNotes = Set("autocompact", "compact-avro", "rewrite-manifests")

  /** Is `note` the latest content commit of `root`? The replay ledger
    * of every drain: a batch landed iff its note is the head's, once
    * the maintenance commits above it are stepped over (walking as
    * [[findContentNote]] does). A foreign append on top still hides
    * the batch's note.
    */
  def landed(root: String, note: String): Boolean =
    findContentNote(root)(n => Some(n).filterNot(MaintenanceNotes)).contains(note)

  def manifest(root: String, snap: Int): Manifest = {
    manifestResolutions.get()(0) += 1
    require(snap > 0, s"no snapshot $snap (table has ${currentSnapshot(root)})")
    val mf = Paths.get(root, "meta", s"manifest-$snap.json")
    if (!Files.exists(mf)) {
      // a SHALLOW CLONE starts at its basis snapshot — earlier
      // manifests were never copied, so time travel below the basis
      // gets a clear provenance error, not file-not-found
      val cl = Paths.get(root, "meta", "_clone.json")
      if (Files.exists(cl)) {
        val n = mapper.readTree(Files.readString(cl))
        val basis = n.get("basis").asInt()
        if (snap < basis)
          throw new NoSuchElementException(
            s"snapshot $snap of $root predates the shallow-clone basis " +
              s"$basis (cloned from ${n.get("source").asText()}); only " +
              s"snapshots >= $basis exist on the clone")
      }
    }
    val node = mapper.readTree(Files.readString(mf))
    val partPaths = asScala(node.get("parts").elements()).map(_.asText()).toSeq
    // Part loading is independent metadata IO: warm the cache for the
    // uncached tail on a bounded pool instead of serially — a long-
    // lived streaming table accumulates O(commits) parts between
    // rewrite_manifests calls, and serial driver reads made first
    // resolution commit-count-bound. (Cached parts skip the pool.)
    val uncached = partPaths.filterNot(partCache.containsKey)
    if (uncached.size > 4) {
      val pool = new java.util.concurrent.ForkJoinPool(
        math.min(32, math.max(4, Runtime.getRuntime.availableProcessors())))
      try {
        import scala.collection.parallel.CollectionConverters._
        val pc = uncached.par
        pc.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
        pc.foreach(p => { loadPart(p): Unit })
      } finally pool.shutdown()
    }
    val parts = partPaths.map(loadPart)
    // resolve in part order: a part's retirement tombstones subtract
    // from the inventory accumulated by EARLIER parts (a surgical
    // overwrite inherits the parent's parts and tombstones only the
    // files it replaced)
    val files = parts.foldLeft(Seq.empty[FileEntry]) { case (acc, (pf, _, rm)) =>
      val rms = rm.toSet
      (if (rms.isEmpty) acc else acc.filterNot(f => rms.contains(f.path))) ++ pf
    }
    Manifest(node.get("snapshot_id").asInt(), node.get("parent_id").asInt(),
      files, parts.flatMap(_._2),
      if (node.has("note")) node.get("note").asText() else "",
      if (node.has("schema")) node.get("schema").asText() else "",
      if (node.has("ts_ms")) node.get("ts_ms").asLong() else 0L,
      if (node.has("bucket_col")) node.get("bucket_col").asText() else "",
      if (node.has("n_buckets")) node.get("n_buckets").asInt() else 0)
  }
}
