package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.writer.BlockWriter

/** Lake metadata layer: snapshot isolation, time travel, atomic
  * pointer, and the stats-pruning payoff of the Z-order layout.
  */
class LakeSpec extends AnyFunSuite {
  import TestSpark._

  test("commits are snapshots: AS OF 1 is immutable after commit 2") {
    val root = graft.util.Scratch.dir("graft_lakespec_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    val s1 = LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    val n1 = LakeTable.read(spark, root, Some(s1)).count()
    val s2 = LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    assert(s1 === 1 && s2 === 2)
    assert(LakeTable.currentSnapshot(root) === 2)
    // time travel: snapshot 1 still reads exactly its own file set
    assert(LakeTable.read(spark, root, Some(1)).count() === n1)
    val odd1 = LakeTable.read(spark, root, Some(1))
      .filter(col("event_id") % 2 === 1).count()
    assert(odd1 === 0, "snapshot 1 must not see generation-2 rows")
    // snapshot 2 = union of both generations
    assert(LakeTable.read(spark, root, Some(2)).count() === ev.count())
    // manifest bookkeeping: parent chain + cumulative file list
    val m1 = LakeTable.manifest(root, 1)
    val m2 = LakeTable.manifest(root, 2)
    assert(m2.parentId === 1 && m1.parentId === 0)
    assert(m1.files.map(_.path).toSet.subsetOf(m2.files.map(_.path).toSet))
    assert(m2.files.map(_.rows).sum === ev.count())
    graft.util.Scratch.rmNow(root)
  }

  test("manifest stats prune most files for a 2-D predicate on the z layout") {
    val root = graft.util.Scratch.dir("graft_lakespec_z_")
    // sf0.01: ~10k events; 256-row files → enough files for pruning
    // to be meaningful.
    graft.queries.Lake.writeZLayout(spark, "/root/testdata/sf0.01", root, 256)
    val (rows, touched, total) = LakeTable.prunedRead(spark, root,
      Map("day" -> graft.queries.Lake.PRUNE_DAY, "vb" -> graft.queries.Lake.PRUNE_VB))
    assert(total >= 20, s"expected a multi-file layout, got $total files")
    assert(touched <= total / 4,
      s"z-order + stats should skip most files: touched $touched of $total")
    // the surviving files are still row-filtered AT THE SCAN: the
    // interval predicates must reach the parquet reader
    val plan = rows.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(day)") ||
      plan.contains("GreaterThanOrEqual(day"),
      s"prune predicates not pushed to scan:\n${plan.take(1500)}")
    // pruning must not change results: same rows as the full-scan path
    val full = LakeTable.read(spark, root)
      .filter(col("day").between(graft.queries.Lake.PRUNE_DAY._1, graft.queries.Lake.PRUNE_DAY._2) &&
        col("vb").between(graft.queries.Lake.PRUNE_VB._1, graft.queries.Lake.PRUNE_VB._2))
    assert(rows.count() === full.count())
    assert(rows.count() > 0, "predicate window must select rows")
    graft.util.Scratch.rmNow(root)
  }

  test("rewrite commit: compaction shrinks the file list, old snapshot intact") {
    val root = graft.util.Scratch.dir("graft_lakespec_c_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    LakeTable.commit(spark, root, ev,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 16), Seq("event_id"))
    val before = LakeTable.manifest(root, 1).files.size
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root, Some(1)),
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1 << 20), Seq("event_id"))
    val after = LakeTable.manifest(root, 2).files.size
    assert(after < before / 2, s"compaction: $before files -> $after files")
    // content preserved exactly; pre-compaction snapshot still readable
    assert(LakeTable.read(spark, root, Some(2)).count() === ev.count())
    assert(LakeTable.read(spark, root, Some(1)).count() === ev.count())
    // rewrite manifests do NOT inherit parent files
    val s2paths = LakeTable.manifest(root, 2).files.map(_.path).toSet
    val s1paths = LakeTable.manifest(root, 1).files.map(_.path).toSet
    assert(s2paths.intersect(s1paths).isEmpty, "rewrite must retire parent files")
    graft.util.Scratch.rmNow(root)
  }

  test("optimistic concurrency: two racing committers both land via CAS retry") {
    val root = graft.util.Scratch.dir("graft_lakespec_occ_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 8 === 7), cfg, Seq("event_id"))
    // 2 threads × 3 commits of disjoint slices, racing on the CAS:
    // every commit must land (losers re-resolve the head and retry —
    // data is staged per commit, so a retry never rewrites files).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = (0 until 6).map { k =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = LakeTable.commit(spark, root,
          ev.filter(col("event_id") % 8 === k), cfg, Seq("event_id"))
      })
    }
    val snaps = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    // all 6 succeeded with distinct snapshot ids forming 2..7
    assert(snaps.toSet === (2 to 7).toSet, s"snapshots: $snaps")
    assert(LakeTable.currentSnapshot(root) === 7)
    // the manifest chain is a single line: parent = snap - 1
    (1 to 7).foreach(i => assert(LakeTable.manifest(root, i).parentId === i - 1))
    // exactly-once content: union of the 7 committed slices (k=6 was
    // never written), nothing dropped or doubled
    val expect = ev.filter(col("event_id") % 8 =!= 6).count()
    assert(LakeTable.read(spark, root).count() === expect)
    graft.util.Scratch.rmNow(root)
  }

  test("optimistic concurrency via the conditional-PUT coordinator: same racing law, no CREATE_NEW") {
    // the object-store model: claims arbitrate through an external
    // CAS table, the winner writes the manifest with a PLAIN put —
    // the whole OCC protocol must behave identically
    val coord = new graft.lake.MemoryCasCoordinator
    LakeTable.setCommitCoordinator(coord)
    try {
      val root = graft.util.Scratch.dir("graft_lakespec_occ_mem_")
      val ev = graft.sources.Tables.load(spark, sf, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
      LakeTable.commit(spark, root, ev.filter(col("event_id") % 8 === 7), cfg, Seq("event_id"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val futures = (0 until 6).map { k =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = LakeTable.commit(spark, root,
            ev.filter(col("event_id") % 8 === k), cfg, Seq("event_id"))
        })
      }
      val snaps = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(snaps.toSet === (2 to 7).toSet, s"snapshots: $snaps")
      assert(LakeTable.currentSnapshot(root) === 7)
      (1 to 7).foreach(i => assert(LakeTable.manifest(root, i).parentId === i - 1))
      val expect = ev.filter(col("event_id") % 8 =!= 6).count()
      assert(LakeTable.read(spark, root).count() === expect)
      // every manifest claim after snapshot 1 went through THIS
      // coordinator (snapshot 1 predates the swap-in)
      assert(coord.claimCount >= 6, s"coordinator arbitrated ${coord.claimCount} claims")
      // and a claim for an id the FS coordinator already committed is
      // refused — mixed-history tables stay safe
      assert(!coord.claim(
        java.nio.file.Paths.get(root, "meta", "manifest-1.json"), "{}"))
      graft.util.Scratch.rmNow(root)
    } finally LakeTable.setCommitCoordinator(graft.lake.LocalFsCoordinator)
  }

  test("merge-on-read delete: no data files written; sequence rule respects later appends") {
    val root = graft.util.Scratch.dir("graft_lakespec_mor_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev, cfg, Seq("event_id"))
    val m1 = LakeTable.manifest(root, 1)
    LakeTable.deleteWhere(spark, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    val m2 = LakeTable.manifest(root, 2)
    // THE MoR property: the delete commit added zero data files
    assert(m2.files === m1.files, "delete commit must not write data files")
    assert(m2.deletes.nonEmpty && m2.deletes.forall(_.seq === 2))
    // reads: snapshot 2 excludes the keys, snapshot 1 is untouched
    val expectKept = ev.filter(col("event_id") % 10 =!= 0).count()
    assert(LakeTable.read(spark, root, Some(2)).count() === expectKept)
    assert(LakeTable.read(spark, root, Some(1)).count() === ev.count())
    // sequence rule: an append AFTER the delete re-inserting deleted
    // keys is NOT affected by the older delete file
    val reinsert = ev.filter(col("event_id") % 20 === 0)
    LakeTable.commit(spark, root, reinsert, cfg, Seq("event_id"))
    assert(LakeTable.read(spark, root, Some(3)).count() === expectKept + reinsert.count())
    // copy-on-write rewrite folds the deletes away
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root), cfg, Seq("event_id"))
    val m4 = LakeTable.manifest(root, 4)
    assert(m4.deletes.isEmpty, "rewrite must fold equality deletes into data files")
    assert(LakeTable.read(spark, root, Some(4)).count() === expectKept + reinsert.count())
    graft.util.Scratch.rmNow(root)
  }

  test("foldDeletes: mask-fold equivalence, delete entries retired, basis-validated") {
    val root = graft.util.Scratch.dir("graft_lakespec_fold_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev, cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 10 === 1))
    val masked = LakeTable.read(spark, root, Some(3))
      .orderBy(col("event_id")).collect()
    val s4 = LakeTable.foldDeletes(spark, root, cfg, Seq("event_id"))
    assert(s4 === 4)
    // mask-fold equivalence: the folded snapshot reads EXACTLY the
    // masked view, row for row (both delete kinds folded)
    val folded = LakeTable.read(spark, root, Some(4))
      .orderBy(col("event_id")).collect()
    assert(folded.toSeq === masked.toSeq)
    // the new manifest carries no delete entries and only fresh files
    val m4 = LakeTable.manifest(root, 4)
    assert(m4.deletes.isEmpty, "foldDeletes must retire every delete entry")
    assert(m4.files.forall(_.seq === 4), "folded snapshot lists only rewritten files")
    // history shows the debt retire: 2 delete files at snap 3, 0 after
    val h = LakeTable.history(spark, root)
      .select(col("snap"), col("n_delete_files")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(3L) === 2L && h(4L) === 0L, s"history delete accounting: $h")
    // basis validation: an append racing the compaction fails the
    // fold instead of being silently dropped
    LakeTable.commit(spark, root, ev.limit(5), cfg, Seq("event_id"))
    val racer = LakeTable.read(spark, root, Some(4))
    intercept[java.util.ConcurrentModificationException] {
      LakeTable.rewrite(spark, root, racer, cfg, Seq("event_id"), basis = Some(4))
    }
    graft.util.Scratch.rmNow(root)
  }

  test("string + timestamp manifest stats prune on non-integer predicates") {
    val root = graft.util.Scratch.dir("graft_lakespec_str_")
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    LakeTable.commit(spark, root, ev,
      BlockWriter.Config("event_type", "ts", maxRecordsPerFile = 256),
      Seq("event_type", "ts"))
    val m = LakeTable.manifest(root, 1)
    assert(m.files.forall(_.stats("event_type").kind == "s"))
    assert(m.files.forall(f => f.stats("event_type").minS <= f.stats("event_type").maxS))
    // string equality predicate: only the 'click' files survive
    val (rows, touched, total) = LakeTable.prunedRead(spark, root, Map.empty,
      strPreds = Map("event_type" -> ("click", "click")))
    assert(total >= 10, s"expected a multi-file layout, got $total")
    assert(touched <= total / 2, s"string stats should prune: touched $touched of $total")
    assert(rows.count() === ev.filter(col("event_type") === "click").count())
    // timestamp stats are epoch micros; a narrow ts window prunes too
    // (files are ts-sorted within each event_type cluster)
    val Array(lo, hi) = ev.selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))")
      .first() match { case r => Array(r.getLong(0), r.getLong(1)) }
    val mid = lo + (hi - lo) / 2
    val narrowHi = mid + (hi - lo) / 16
    val (tsRows, tsTouched, tsTotal) = LakeTable.prunedRead(spark, root,
      Map("ts" -> (mid, narrowHi)))
    assert(tsTouched < tsTotal, s"ts stats should prune: $tsTouched/$tsTotal")
    assert(tsRows.count() ===
      ev.filter(unix_micros(col("ts")).between(mid, narrowHi)).count())
    graft.util.Scratch.rmNow(root)
  }

  test("removeOrphans reclaims aborted-commit residue, never live files") {
    val root = graft.util.Scratch.dir("graft_lakespec_orph_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts")).limit(200)
    LakeTable.commit(spark, root, ev,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096), Seq("event_id"))
    val before = LakeTable.read(spark, root).count()
    // an aborted commit: staged data that never got a manifest (the
    // crash-between-stage-and-CAS window, or an exhausted CAS retry)
    ev.limit(10).write.parquet(s"$root/data/c0-aborted")
    val staged = new java.io.File(s"$root/data/c0-aborted").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(staged > 0)
    val removed = LakeTable.removeOrphans(root)
    assert(removed >= staged, s"sweep must reclaim the aborted stage (got $removed)")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/data/c0-aborted")),
      "emptied staging dir should be dropped")
    // live data untouched, table still fully readable
    assert(LakeTable.read(spark, root).count() === before)
    // idempotent: nothing left to sweep
    assert(LakeTable.removeOrphans(root) === 0)
    graft.util.Scratch.rmNow(root)
  }

  test("streaming ingest commits one snapshot per micro-batch, idempotently") {
    val root = graft.util.Scratch.dir("graft_lakespec_sl_")
    val staged = graft.util.Scratch.dir("graft_lakespec_slin_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    ev.repartition(3).write.mode("overwrite").parquet(staged)
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    val ck = graft.util.Scratch.dir("graft_lakespec_slck_")
    val n = graft.streaming.LakeStream.runOnceToLake(spark, staged, root, cfg,
      Seq("event_id"), checkpoint = ck)
    assert(n === 3, s"expected one commit per staged file, got $n")
    // commit cadence: each snapshot notes its batch id, file lists grow
    assert((1 to 3).map(i => LakeTable.manifest(root, i).note) === Seq("batch-0", "batch-1", "batch-2"))
    val counts = (1 to 3).map(i => LakeTable.read(spark, root, Some(i)).count())
    assert(counts.last === ev.count())
    assert(counts(0) < counts(1) && counts(1) < counts(2), s"snapshots must grow: $counts")
    // exactly-once: restarting the same checkpointed query re-reads
    // nothing (file-source log) and the note guard covers foreachBatch
    // retries — either way the table must not double-commit.
    val before = LakeTable.currentSnapshot(root)
    val again = graft.streaming.LakeStream.runOnceToLake(spark, staged, root, cfg,
      Seq("event_id"), checkpoint = ck)
    assert(again === before, "restarting a drained query must not double-commit")
    graft.util.Scratch.rmNow(root); graft.util.Scratch.rmNow(staged)
  }

  test("expire reclaims only files unreachable from kept snapshots") {
    val root = graft.util.Scratch.dir("graft_lakespec_ex_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    // snapshot 2 REWRITES the table — snapshot 1's files become
    // reclaimable once snapshot 1 expires
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root, Some(1)), cfg, Seq("event_id"))
    val rowsBefore = LakeTable.read(spark, root).count()
    val s1Files = LakeTable.manifest(root, 1).files.map(_.path)
    val deleted = LakeTable.expire(root, keepFrom = 2)
    assert(deleted === s1Files.size, s"expected all ${s1Files.size} retired files reclaimed, got $deleted")
    s1Files.foreach { p =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(new java.net.URI(p).getPath)), s"orphan not deleted: $p")
    }
    // the kept snapshot is untouched and fully readable
    assert(LakeTable.read(spark, root).count() === rowsBefore)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "meta", "manifest-1.json")), "expired manifest must drop")
    graft.util.Scratch.rmNow(root)
  }

  test("append with a drifted schema is rejected at commit time; rewrite may evolve it") {
    val root = graft.util.Scratch.dir("graft_lakespec_sc_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts")).limit(100)
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev, cfg, Seq("event_id"))
    val drifted = ev.withColumn("extra", lit(1L))
    intercept[IllegalArgumentException] {
      LakeTable.commit(spark, root, drifted, cfg, Seq("event_id"))
    }
    assert(LakeTable.currentSnapshot(root) === 1, "failed append must not advance the table")
    // schema evolution ships as a REWRITE — allowed, and appends then
    // enforce the new schema
    LakeTable.rewrite(spark, root, drifted, cfg, Seq("event_id"))
    LakeTable.commit(spark, root, drifted, cfg, Seq("event_id"))
    assert(LakeTable.currentSnapshot(root) === 3)
    assert(LakeTable.read(spark, root).columns.contains("extra"))
    graft.util.Scratch.rmNow(root)
  }

  test("lake lifecycle: append ×2 → compact → CoW delete → expire → read, one table") {
    val root = graft.util.Scratch.dir("graft_lakespec_lc2_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 64)
    val big = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root), big, Seq("event_id"))
    LakeTable.rewrite(spark, root,
      LakeTable.read(spark, root).filter(col("event_id") % 10 =!= 0), big, Seq("event_id"))
    assert(LakeTable.currentSnapshot(root) === 4)
    val expectFinal = ev.filter(col("event_id") % 10 =!= 0).count()
    assert(LakeTable.read(spark, root).count() === expectFinal)
    // history intact pre-expiry: snap2 full, snap3 compacted-full
    assert(LakeTable.read(spark, root, Some(2)).count() === ev.count())
    assert(LakeTable.read(spark, root, Some(3)).count() === ev.count())
    // expire everything before the delete snapshot
    val reclaimed = LakeTable.expire(root, keepFrom = 4)
    assert(reclaimed > 0)
    // the current view is untouched; a stats-pruned read stays exact
    assert(LakeTable.read(spark, root).count() === expectFinal)
    val (rows, touched, total) = LakeTable.prunedRead(spark, root,
      Map("event_id" -> (0L, 100L)))
    assert(touched <= total)
    assert(rows.count() ===
      LakeTable.read(spark, root).filter(col("event_id").between(0, 100)).count())
    graft.util.Scratch.rmNow(root)
  }

  test("chaos: appends race a basis-validated compaction; expire preserves the survivors") {
    val root = graft.util.Scratch.dir("graft_lakespec_chaos_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val small = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 64)
    val big = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 6 === 0), small, Seq("event_id"))
    // appender: 5 more disjoint slices, sequentially, racing the compactor
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val appender = pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = (1 to 5).foreach { k =>
        LakeTable.commit(spark, root,
          ev.filter(col("event_id") % 6 === k), small, Seq("event_id")): Unit
      }
    })
    // compactor: rewrite the head it READ, with basis validation — a
    // concurrent append moves the head and the rewrite must fail and
    // re-run instead of silently dropping the append
    @volatile var conflicts = 0
    @volatile var compactions = 0
    val compactor = pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = (1 to 4).foreach { _ =>
        val head = LakeTable.currentSnapshot(root)
        val content = LakeTable.read(spark, root, Some(head))
        try {
          LakeTable.rewrite(spark, root, content, big, Seq("event_id"), basis = Some(head))
          compactions += 1
        } catch {
          case _: java.util.ConcurrentModificationException => conflicts += 1
        }
        Thread.sleep(50)
      }
    })
    appender.get(300, java.util.concurrent.TimeUnit.SECONDS)
    compactor.get(300, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    // every append survived whatever interleaving happened
    val expect = ev.filter(col("event_id") % 6 <= 5).count()
    assert(LakeTable.read(spark, root).count() === expect,
      s"content lost under race (compactions=$compactions conflicts=$conflicts)")
    // one final quiesced compaction always applies cleanly
    val head = LakeTable.currentSnapshot(root)
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root, Some(head)), big,
      Seq("event_id"), basis = Some(head))
    assert(LakeTable.read(spark, root).count() === expect)
    // expire history; current content and pruned reads stay exact
    val reclaimed = LakeTable.expire(root, keepFrom = LakeTable.currentSnapshot(root))
    assert(reclaimed > 0)
    assert(LakeTable.read(spark, root).count() === expect)
    val (rows, touched, total) = LakeTable.prunedRead(spark, root,
      Map("event_id" -> (0L, 500L)))
    assert(touched <= total)
    assert(rows.count() ===
      LakeTable.read(spark, root).filter(col("event_id").between(0, 500)).count())
    graft.util.Scratch.rmNow(root)
  }

  test("additive schema evolution: nullable column appends without rewrite, old files null-fill") {
    val root = graft.util.Scratch.dir("graft_lakespec_ae_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts")).limit(100)
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    val oldFiles = LakeTable.manifest(root, 1).files.map(_.path).toSet
    // nullable add (when(...) keeps the column nullable) — legal append
    val widened = ev.filter(col("event_id") % 2 === 1)
      .withColumn("score", when(col("event_id") % 3 === 0, col("event_id") * 2))
    LakeTable.commit(spark, root, widened, cfg, Seq("event_id"))
    val m2 = LakeTable.manifest(root, 2)
    assert(oldFiles.subsetOf(m2.files.map(_.path).toSet), "no rewrite on evolution")
    val cur = LakeTable.read(spark, root)
    assert(cur.columns.contains("score"))
    // pre-evolution rows read null-filled under the widened schema
    assert(cur.filter(col("event_id") % 2 === 0 && col("score").isNotNull).count() === 0)
    assert(cur.filter(col("score").isNotNull).count() ===
      widened.filter(col("score").isNotNull).count())
    // snapshot 1 still reads under ITS schema — no score column
    assert(!LakeTable.read(spark, root, Some(1)).columns.contains("score"))
    // appends must now carry the widened schema; dropping it is rejected
    intercept[IllegalArgumentException] {
      LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    }
    graft.util.Scratch.rmNow(root)
  }

  test("positional delete targets exact rows: one copy of a duplicated key survives") {
    val root = graft.util.Scratch.dir("graft_lakespec_pd_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts")).limit(100)
    // a table with every key DUPLICATED — the case equality deletes
    // cannot express (they would drop both copies)
    val doubled = ev.withColumn("copy", lit(0L))
      .unionByName(ev.withColumn("copy", lit(1L)))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, doubled, cfg, Seq("event_id"))
    val n = doubled.count()
    val parentFiles = LakeTable.manifest(root, 1).files.map(_.path).toSet
    // address ONLY the copy=1 rows of every 5th key
    val snap = LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root)
        .filter(col("event_id") % 5 === 0 && col("copy") === 1L))
    val m = LakeTable.manifest(root, snap)
    assert(m.files.map(_.path).toSet === parentFiles, "no data files rewritten")
    assert(m.deletes.size === 1 && m.deletes.head.kind === "pos")
    val cur = LakeTable.read(spark, root)
    val targeted = doubled.filter(col("event_id") % 5 === 0 && col("copy") === 1L).count()
    assert(cur.count() === n - targeted)
    // the OTHER copy of every targeted key is still there
    assert(cur.filter(col("event_id") % 5 === 0 && col("copy") === 0L).count() ===
      doubled.filter(col("event_id") % 5 === 0 && col("copy") === 0L).count())
    // pre-delete snapshot intact; coordinates remain addressable
    assert(LakeTable.read(spark, root, Some(1)).count() === n)
    assert(!LakeTable.read(spark, root).columns.contains("path"),
      "coordinate columns must not leak into plain reads")
    // path-bound coordinates must not survive a rewrite: stale
    // positions fail loudly instead of silently no-oping
    val stale = LakeTable.withRowCoords(spark, root)
      .filter(col("event_id") % 5 === 1).collect() // materialize coords
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root), cfg, Seq("event_id"))
    import spark.implicits._
    val staleDf = stale.map(r => (r.getAs[String](LakeTable.CoordPath),
        r.getAs[Long](LakeTable.CoordIdx)))
      .toSeq.toDF(LakeTable.CoordPath, LakeTable.CoordIdx)
    intercept[java.util.ConcurrentModificationException] {
      LakeTable.deletePositions(spark, root, staleDf)
    }
    graft.util.Scratch.rmNow(root)
  }

  test("bulk MoR delete: fanned-out delete files and a shuffle anti-join read plan") {
    val root = graft.util.Scratch.dir("graft_lakespec_ldb_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev, cfg, Seq("event_id"))
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(LakeTable.DeleteFileRowsKey, "128")
    spark.conf.set(LakeTable.BroadcastDeleteRowsKey, "0")
    // disable size-based auto-broadcast so the plan shows exactly what
    // the manifest-driven plan choice decided
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      LakeTable.deleteWhere(spark, root, "event_id",
        ev.filter(col("event_id") % 4 =!= 3))
      val m = LakeTable.manifest(root, 2)
      assert(m.files.map(_.path).toSet ===
        LakeTable.manifest(root, 1).files.map(_.path).toSet,
        "MoR: no data files rewritten")
      assert(m.deletes.size > 1,
        s"bulk delete keys fanned out across files, got ${m.deletes.size}")
      // bulk: recorded delete rows exceed the broadcast budget → no
      // broadcast hint → shuffle anti-join
      val bulkPlan = LakeTable.read(spark, root).queryExecution.sparkPlan.toString
      assert(!bulkPlan.contains("BroadcastHashJoin"),
        s"bulk delete must not broadcast:\n$bulkPlan")
      assert(bulkPlan.contains("SortMergeJoin") || bulkPlan.contains("ShuffledHashJoin"),
        s"expected a shuffle anti-join:\n$bulkPlan")
      // takedown-sized budget: same table, no join — the readers
      // probe the delete keys
      spark.conf.unset(LakeTable.BroadcastDeleteRowsKey)
      val smallPlan = LakeTable.read(spark, root).queryExecution.sparkPlan
      assert(smallPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.isEmpty, s"manifest-sized delete under budget must be probed in the reader:\n$smallPlan")
      // correctness is identical either way
      assert(LakeTable.read(spark, root).count() ===
        ev.filter(col("event_id") % 4 === 3).count())
    } finally {
      spark.conf.unset(LakeTable.DeleteFileRowsKey)
      spark.conf.unset(LakeTable.BroadcastDeleteRowsKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
    graft.util.Scratch.rmNow(root)
  }

  test("tables owning 'path'/'idx' columns survive positional deletes; reserved names rejected") {
    val root = graft.util.Scratch.dir("graft_lakespec_pc_")
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"p$i", i * 2)).toDF("event_id", "path", "idx")
    val cfg = BlockWriter.Config("event_id", "event_id", maxRecordsPerFile = 16)
    LakeTable.commit(spark, root, df, cfg, Seq("event_id"))
    LakeTable.deletePositions(spark, root,
      LakeTable.withRowCoords(spark, root).filter(col("event_id") % 5 === 0))
    val cur = LakeTable.read(spark, root)
    assert(cur.columns.toSeq === Seq("event_id", "path", "idx"),
      "user columns named path/idx must pass through untouched")
    assert(cur.count() === 40)
    // the user's own path values are intact, not overwritten by file paths
    assert(cur.filter(col("path") ===
      concat(lit("p"), col("event_id").cast("string"))).count() === 40)
    intercept[IllegalArgumentException] {
      LakeTable.commit(spark, graft.util.Scratch.dir("graft_lakespec_pc2_"),
        df.withColumnRenamed("path", LakeTable.CoordPath), cfg, Seq("event_id"))
    }
    graft.util.Scratch.rmNow(root)
  }

  test("delete-only commits in a tailed range yield an EMPTY typed frame, not a schema-less one") {
    val root = graft.util.Scratch.dir("graft_lakespec_inc0_")
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, i % 4)).toDF("event_id", "k")
    val cfg = BlockWriter.Config("k", "event_id", maxRecordsPerFile = 16)
    LakeTable.commit(spark, root, df, cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_id", df.filter(col("event_id") <= 5))
    // range (1, 2] added no data files — only a delete
    val inc = LakeTable.incrementalRead(spark, root, 1, 2)
    assert(inc.schema.fieldNames.toSeq === Seq("event_id", "k"),
      "empty incremental batch must carry the table schema")
    assert(inc.select(col("event_id")).count() === 0)
    graft.util.Scratch.rmNow(root)
  }

  test("time-based retention survives repeated invocation after manifests are expired") {
    val root = graft.util.Scratch.dir("graft_lakespec_exp2_")
    import spark.implicits._
    val cfg = BlockWriter.Config("k", "event_id", maxRecordsPerFile = 16)
    (1 to 3).foreach { g =>
      LakeTable.commit(spark, root,
        Seq((g.toLong, g.toLong)).toDF("event_id", "k"), cfg, Seq("event_id"))
    }
    val cutoff = LakeTable.manifest(root, 2).tsMs
    assert(LakeTable.expireOlderThan(root, cutoff) >= 0)
    // manifests 1..2 are gone now; a second retention run must not throw
    assert(LakeTable.expireOlderThan(root, System.currentTimeMillis()) >= 0)
    assert(LakeTable.read(spark, root).count() === 3)
    graft.util.Scratch.rmNow(root)
  }

  test("atomic MoR merge: one commit upserts without rewriting old files") {
    val root = graft.util.Scratch.dir("graft_lakespec_mg_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1024)
    LakeTable.commit(spark, root, ev, cfg, Seq("event_id"))
    val n = ev.count()
    val parentFiles = LakeTable.manifest(root, 1).files.map(_.path).toSet
    // shift the updated rows' user_id so the update is observable
    val updates = ev.filter(col("event_id") % 7 === 0)
      .withColumn("user_id", col("user_id") + lit(1000000L))
    val snap = LakeTable.merge(spark, root, "event_id", updates, cfg, Seq("event_id"))
    val m = LakeTable.manifest(root, snap)
    // old files untouched; updates arrived as NEW files in the same commit
    assert(parentFiles.subsetOf(m.files.map(_.path).toSet))
    assert(m.files.count(_.seq == snap) > 0)
    assert(m.deletes.size === 1 && m.deletes.head.seq === snap)
    // reader view: same cardinality (every key existed), updated rows visible
    val cur = LakeTable.read(spark, root)
    assert(cur.count() === n)
    assert(cur.filter(col("event_id") % 7 === 0 && col("user_id") < 1000000L)
      .count() === 0, "old versions of updated rows must be masked")
    // pre-merge snapshot unaffected
    assert(LakeTable.read(spark, root, Some(1))
      .filter(col("user_id") >= 1000000L).count() === 0)
    graft.util.Scratch.rmNow(root)
  }

  test("AS OF TIMESTAMP resolves the snapshot committed at or before the time") {
    val root = graft.util.Scratch.dir("graft_lakespec_ts_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts")).limit(100)
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    val between = System.currentTimeMillis()
    Thread.sleep(20) // separate the two commits' wall-clock stamps
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    assert(LakeTable.snapshotAsOfTime(root, between) === 1)
    assert(LakeTable.snapshotAsOfTime(root, System.currentTimeMillis()) === 2)
    assert(LakeTable.readAsOfTime(spark, root, between)
      .filter(col("event_id") % 2 === 1).count() === 0)
    intercept[IllegalArgumentException] {
      LakeTable.snapshotAsOfTime(root, 0L) // before the first commit
    }
    // history: metadata-only accounting matches the commits
    val h = LakeTable.history(spark, root).orderBy(col("snap")).collect()
    assert(h.length === 2)
    assert(h(0).getAs[Long]("n_added_rows") +
      h(1).getAs[Long]("n_added_rows") === h(1).getAs[Long]("n_rows"))
    assert(h.forall(_.getAs[Long]("ts_ms") > 0L))
    graft.util.Scratch.rmNow(root)
  }

  test("commit metadata is incremental: an append writes O(added), not the file inventory") {
    val root = graft.util.Scratch.dir("graft_lakespec_ml_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    // many-file first commit, then a tiny append
    LakeTable.commit(spark, root, ev,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 64), Seq("event_id"))
    val n1 = LakeTable.manifest(root, 1).files.size
    assert(n1 >= 15, s"expected a many-file layout, got $n1")
    LakeTable.commit(spark, root, ev.limit(10),
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096), Seq("event_id"))
    val m2 = java.nio.file.Paths.get(root, "meta", "manifest-2.json")
    val m2Json = java.nio.file.Files.readString(m2)
    // the manifest lists part paths + snapshot metadata only — no
    // per-file entries, and a size independent of snapshot 1's
    // file count (schema + 2 part paths)
    assert(!m2Json.contains("\"stats\""), "manifest must not embed file entries")
    assert(java.nio.file.Files.size(m2) < 4096,
      s"commit metadata should be O(added+commits), got ${java.nio.file.Files.size(m2)} bytes")
    // the resolved view is still the full inventory
    val r2 = LakeTable.manifest(root, 2)
    assert(r2.files.size > n1)
    assert(r2.files.count(_.seq == 2) >= 1)
    graft.util.Scratch.rmNow(root)
  }

  test("incremental read returns exactly the snapshot range's additions; time-based expiry") {
    val root = graft.util.Scratch.dir("graft_lakespec_inc_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts")).limit(300)
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    (0 to 2).foreach(g => LakeTable.commit(spark, root,
      ev.filter(col("event_id") % 3 === g), cfg, Seq("event_id")))
    // (1, 3] = generations 2 and 3 only
    val inc = LakeTable.incrementalRead(spark, root, 1, 3)
    assert(inc.filter(col("event_id") % 3 === 0).count() === 0)
    assert(inc.count() === ev.filter(col("event_id") % 3 =!= 0).count())
    // (2, 3] = generation 3; (3, 3] = nothing
    assert(LakeTable.incrementalRead(spark, root, 2, 3).count() ===
      ev.filter(col("event_id") % 3 === 2).count())
    assert(LakeTable.incrementalRead(spark, root, 3, 3).count() === 0)
    // a consumer bounded by an older to-snapshot never sees later data
    assert(LakeTable.incrementalRead(spark, root, 0, 1).count() ===
      ev.filter(col("event_id") % 3 === 0).count())
    // time-based retention: everything committed so far is expirable
    // except the head, which always survives. Append-only history
    // shares every file with the head, so expiry drops MANIFESTS
    // (time travel) but reclaims no files — only rewrite-retired
    // files are reclaimable (covered by the expire spec above).
    val reclaimed = LakeTable.expireOlderThan(root, System.currentTimeMillis())
    assert(reclaimed === 0)
    assert(LakeTable.read(spark, root).count() === ev.count(),
      "head snapshot must stay fully readable after time-based expiry")
    intercept[Exception] { LakeTable.manifest(root, 1) }
    graft.util.Scratch.rmNow(root)
  }

  test("manifest JSON round-trips, including paths needing escapes") {
    val root = graft.util.Scratch.dir("graft_lakespec_js_")
    // write through the real commit path, then re-read and compare
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts")).limit(50)
    LakeTable.commit(spark, root, ev,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096),
      Seq("event_id", "user_id"), note = "quote\" back\\slash\ttab")
    val m = LakeTable.manifest(root, 1)
    assert(m.note === "quote\" back\\slash\ttab")
    assert(m.files.nonEmpty)
    m.files.foreach { f =>
      assert(f.rows > 0)
      assert(f.stats.keySet === Set("event_id", "user_id"))
      f.stats.values.foreach(st => assert(st.min <= st.max))
    }
    assert(m.files.map(_.rows).sum === 50)
    graft.util.Scratch.rmNow(root)
  }

  test("bloom point pruning skips files range stats cannot") {
    val root = graft.util.Scratch.dir("graft_lakespec_bl_")
    // user-clustered layout at sf0.01 (~10k events): every file's
    // event_id [min,max] spans nearly the whole id domain, so range
    // stats keep everything; the bloom must do the pruning.
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    LakeTable.commit(spark, root, ev,
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1024),
      Seq("event_id"), bloomCols = Seq("event_id"))
    val probe = ev.agg(max(col("event_id"))).first().getLong(0) / 2
    val m = LakeTable.manifest(root, 1)
    assert(m.files.size >= 8, s"expected a multi-file layout, got ${m.files.size}")
    // every bloom col carries a bitmap, and range stats alone would
    // keep (nearly) every file for this probe
    m.files.foreach(f => assert(f.stats("event_id").bloom.nonEmpty))
    val rangeKept = m.files.count { f =>
      val st = f.stats("event_id"); st.min <= probe && st.max >= probe }
    assert(rangeKept >= m.files.size - 1,
      s"range stats were expected to be useless here, kept $rangeKept/${m.files.size}")
    val (rows, touched, total) = LakeTable.prunedRead(spark, root, Map.empty,
      pointPreds = Map("event_id" -> Seq(probe.toString)))
    assert(touched <= total / 4,
      s"bloom should prune most files for a single key: touched $touched of $total")
    // correctness never rides on the bloom: the survivors re-check rows
    assert(rows.count() === ev.filter(col("event_id") === probe).count())
    // definitely-absent probe: bloom may false-positive a few files
    // but must never produce rows
    val (absent, touchedAbs, _) = LakeTable.prunedRead(spark, root, Map.empty,
      pointPreds = Map("event_id" -> Seq("-12345")))
    assert(touchedAbs <= total / 4 && absent.count() === 0)
    graft.util.Scratch.rmNow(root)
  }

  test("partition evolution: gen-2 layout prunes tightly, gen-1 stays readable") {
    val root = graft.util.Scratch.dir("graft_lakespec_ev_")
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("day", expr("(unix_micros(ts) div 86400000000) % 256").cast("bigint"))
    val stat = Seq("day", "event_id")
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0),
      BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 512), stat)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1),
      BlockWriter.Config("day", "ts", maxRecordsPerFile = 512), stat)
    val (lo, hi) = graft.queries.Lake.PRUNE_DAY
    val m = LakeTable.manifest(root, 2)
    val (gen1, gen2) = m.files.partition(_.seq == 1)
    assert(gen1.nonEmpty && gen2.nonEmpty)
    def kept(fs: Seq[LakeTable.FileEntry]) = fs.count { f =>
      val st = f.stats("day"); st.min <= hi && st.max >= lo }
    // old layout: day extents are wide, (almost) every gen-1 file
    // survives — a small boundary file can have a narrow extent;
    // new layout: only the day-window's files do
    assert(kept(gen1) >= gen1.size * 3 / 4,
      s"user-clustered files should mostly survive a day predicate: ${kept(gen1)}/${gen1.size}")
    assert(kept(gen2) <= gen2.size / 2,
      s"evolved layout should prune: kept ${kept(gen2)} of ${gen2.size}")
    val (rows, touched, total) = LakeTable.prunedRead(spark, root, Map("day" -> (lo, hi)))
    assert(touched === kept(gen1) + kept(gen2) && touched < total)
    // exactness across both generations
    assert(rows.count() === ev.filter(col("day").between(lo, hi)).count())
    graft.util.Scratch.rmNow(root)
  }

  test("prune_scan touches files proportional to the predicate window, not the table") {
    // the query-level artifact: the same layout prune_scan builds, at
    // its production file size — record the prune ratio holds there too
    val root = graft.util.Scratch.dir("graft_lakespec_q_")
    graft.queries.Lake.writeZLayout(spark, "/root/testdata/sf0.01", root, 1024)
    val (_, touched, total) = LakeTable.prunedRead(spark, root,
      Map("day" -> graft.queries.Lake.PRUNE_DAY, "vb" -> graft.queries.Lake.PRUNE_VB))
    assert(touched < total, s"no pruning at all: $touched/$total")
    graft.util.Scratch.rmNow(root)
  }

  test("tags pin snapshots through expiry; dropping the tag releases them") {
    val root = graft.util.Scratch.dir("graft_lakespec_tag_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    val n1 = LakeTable.read(spark, root).count()
    LakeTable.tag(root, "v1", 1)
    assert(LakeTable.tags(root) === Map("v1" -> 1))
    // tags are immutable refs: re-tagging the name is rejected
    intercept[Exception](LakeTable.tag(root, "v1", 1))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    // compaction RETIRES both generations' files from the live view...
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root), cfg, Seq("event_id"))
    // ...so expire(3) reclaims them — EXCEPT what the tag pins
    LakeTable.expire(root, 3)
    // the tagged cut still reads exactly; the untagged snapshot 2 is gone
    assert(LakeTable.readTag(spark, root, "v1").count() === n1)
    assert(LakeTable.read(spark, root, Some(1)).count() === n1)
    intercept[Exception](LakeTable.read(spark, root, Some(2)).count())
    assert(LakeTable.read(spark, root).count() === ev.count())
    // dropping the tag releases the pin: the next expiry reclaims it
    assert(LakeTable.dropTag(root, "v1"))
    assert(!LakeTable.dropTag(root, "v1"))
    LakeTable.expire(root, 3)
    intercept[Exception](LakeTable.readTag(spark, root, "v1"))
    intercept[Exception](LakeTable.read(spark, root, Some(1)).count())
    // tagging an expired snapshot is rejected; head still healthy
    intercept[IllegalArgumentException](LakeTable.tag(root, "v2", 2))
    assert(LakeTable.read(spark, root).count() === ev.count())
    graft.util.Scratch.rmNow(root)
  }

  test("branches: write-audit-publish, fast-forward validation, ownership-scoped reclamation") {
    val root = graft.util.Scratch.dir("graft_lakespec_br_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    val nEven = ev.filter(col("event_id") % 2 === 0).count()
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.branch(root, "wap")
    val bRoot = LakeTable.branchRoot(root, "wap")
    // the fork is metadata-only: no data file was copied into the branch
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(bRoot, "data")) ||
      { val st = java.nio.file.Files.walk(java.nio.file.Paths.get(bRoot, "data"))
        try st.noneMatch(p => p.toString.endsWith(".parquet")) finally st.close() },
      "fork must not copy data files")
    assert(LakeTable.read(spark, bRoot).count() === nEven)
    // write+audit on the branch: main readers see none of it
    LakeTable.commit(spark, bRoot, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, bRoot, "event_id",
      ev.filter(col("event_id") % 2 === 1 && col("event_id") % 5 === 3))
    assert(LakeTable.currentSnapshot(root) === 1, "main must not advance while the branch is open")
    assert(LakeTable.read(spark, root).count() === nEven)
    // publish: one atomic fast-forward; main now reads the audited cut
    val expect = ev.filter(col("event_id") % 2 === 0 ||
      (col("event_id") % 2 === 1 && col("event_id") % 5 =!= 3)).count()
    LakeTable.publishBranch(root, "wap")
    assert(LakeTable.read(spark, root).count() === expect)
    assert(LakeTable.branches(root).keySet === Set("wap"))
    // a published branch's files are live in main: dropping it is refused
    intercept[IllegalArgumentException](LakeTable.dropBranch(root, "wap"))
    // fast-forward rule: a branch whose fork basis the main head has
    // passed cannot publish (the concurrent commit would be dropped)
    LakeTable.branch(root, "stale")
    LakeTable.commit(spark, LakeTable.branchRoot(root, "stale"),
      ev.limit(5), cfg, Seq("event_id"))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1).limit(10),
      cfg, Seq("event_id"))
    intercept[java.util.ConcurrentModificationException](
      LakeTable.publishBranch(root, "stale"))
    // an empty branch has nothing to publish
    intercept[IllegalArgumentException](
      { LakeTable.branch(root, "empty"); LakeTable.publishBranch(root, "empty") })
    assert(LakeTable.dropBranch(root, "empty"))
    // never-published branches drop cleanly
    assert(LakeTable.dropBranch(root, "stale"))
    assert(LakeTable.branches(root).keySet === Set("wap"))
    // expiry protects files an OPEN branch references: rewrite main
    // (retiring every live file), then expire — the branch fork still
    // reads its snapshot because its referenced files survived
    LakeTable.branch(root, "pinned")
    LakeTable.rewrite(spark, root, LakeTable.read(spark, root), cfg, Seq("event_id"))
    val head = LakeTable.currentSnapshot(root)
    LakeTable.expire(root, head)
    assert(LakeTable.read(spark, LakeTable.branchRoot(root, "pinned")).count() === expect + 10)
    // dropping the open branch releases the pin; the next expiry reclaims
    assert(LakeTable.dropBranch(root, "pinned"))
    LakeTable.expire(root, head)
    assert(LakeTable.read(spark, root).count() === expect + 10)
    graft.util.Scratch.rmNow(root)
  }

  test("branch numbering continues the parent chain: seq semantics exact across fork and publish") {
    val root = graft.util.Scratch.dir("graft_lakespec_brseq_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    // TWO main generations, so inherited files carry seq 1 AND 2 —
    // a branch chain restarting at 1 would mis-scope deletes here
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    assert(LakeTable.branch(root, "b") === 2, "fork id = basis id")
    val bRoot = LakeTable.branchRoot(root, "b")
    // a branch MoR delete (lands at 3) must mask BOTH inherited
    // generations (seq 1 and 2 < 3), exactly as it would on main
    LakeTable.deleteWhere(spark, bRoot, "event_id",
      ev.filter(col("event_id") % 10 === 0))
    val kept = ev.filter(col("event_id") % 10 =!= 0).count()
    assert(LakeTable.read(spark, bRoot).count() === kept,
      "branch delete must scope over every inherited generation")
    // a branch append (lands at 4) must NOT be masked by the older
    // branch delete (sequence rule across the fork)
    val reinsert = ev.filter(col("event_id") % 20 === 0)
    LakeTable.commit(spark, bRoot, reinsert, cfg, Seq("event_id"))
    assert(LakeTable.read(spark, bRoot).count() === kept + reinsert.count())
    // publish replays commits 3 and 4 onto main under their own ids:
    // incremental consumers see each range exactly — the delete-only
    // commit adds nothing, the append exactly its rows
    assert(LakeTable.publishBranch(root, "b") === 4)
    assert(LakeTable.currentSnapshot(root) === 4)
    assert(LakeTable.read(spark, root).count() === kept + reinsert.count())
    assert(LakeTable.incrementalRead(spark, root, 2, 3).count() === 0,
      "delete-only published commit must add no rows to a tailing consumer")
    assert(LakeTable.incrementalRead(spark, root, 3, 4).count() === reinsert.count(),
      "published append must appear in exactly its own range")
    assert(LakeTable.history(spark, root).count() === 4)
    graft.util.Scratch.rmNow(root)
  }

  test("rollback is metadata-only, restores the target view, and keeps history append-only") {
    val root = graft.util.Scratch.dir("graft_lakespec_rb_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 3 < 2), cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 3 === 2), cfg, Seq("event_id"))
    val n3 = LakeTable.read(spark, root).count()
    def dataFiles(): Long = {
      val d = java.nio.file.Paths.get(root, "data")
      val st = java.nio.file.Files.walk(d)
      try st.filter(p => p.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    val filesBefore = dataFiles()
    val s4 = LakeTable.rollback(root, 1)
    assert(s4 === 4)
    // THE rollback property: zero data IO — no file added or removed
    assert(dataFiles() === filesBefore, "rollback must not touch data files")
    val m1 = LakeTable.manifest(root, 1)
    val m4 = LakeTable.manifest(root, 4)
    assert(m4.files === m1.files, "rollback manifest re-references the target's files")
    assert(m4.deletes.isEmpty, "snapshot 1 carried no deletes, so neither may the rollback")
    // head view == snapshot-1 view (delete undone, append gone)
    assert(LakeTable.read(spark, root).count() === LakeTable.read(spark, root, Some(1)).count())
    // history is append-only: the rolled-past head stays travelable
    assert(LakeTable.read(spark, root, Some(3)).count() === n3)
    assert(LakeTable.history(spark, root).count() === 4)
    // a rollback commit adds no files with its own seq → incremental
    // consumers tailing (3, 4] see an empty (typed) batch, not a replay
    assert(LakeTable.incrementalRead(spark, root, 3, 4).count() === 0)
    // rollback of the rollback restores the pre-rollback head
    LakeTable.rollback(root, 3)
    assert(LakeTable.read(spark, root).count() === n3)
    // targets outside the committed range are rejected
    intercept[IllegalArgumentException](LakeTable.rollback(root, 99))
    graft.util.Scratch.rmNow(root)
  }
}

/** The registered DataSource: spark.read/readStream.format("graft-lake"). */
class LakeDataSourceSpec extends AnyFunSuite {
  import TestSpark._

  private def cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 1024)

  test("format batch read equals LakeTable.read, head and AS OF") {
    val root = graft.util.Scratch.dir("graft_ds_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg,
      Seq("event_id", "user_id", "event_type"))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg,
      Seq("event_id", "user_id", "event_type"))
    val head = spark.read.format("graft-lake").load(root)
    assert(head.count() === ev.count())
    assert(head.columns.sorted === LakeTable.read(spark, root).columns.sorted)
    val s1 = spark.read.format("graft-lake").option("snapshot", "1").load(root)
    assert(s1.count() === ev.filter(col("event_id") % 2 === 0).count())
    assert(s1.filter(col("event_id") % 2 === 1).count() === 0,
      "AS OF 1 must not see generation-2 rows")
    // filters through the format path stay exact (they are re-applied
    // on rows; pruning only bounds IO)
    val n = head.filter(col("event_id") >= 100 && col("event_id") < 200
      && col("event_type") === "click").count()
    val expect = ev.filter(col("event_id") >= 100 && col("event_id") < 200
      && col("event_type") === "click").count()
    assert(n === expect)
    graft.util.Scratch.rmNow(root)
  }

  test("pushed filters translate to manifest pruning bounds") {
    import org.apache.spark.sql.sources._
    val (ints, strs, points) = graft.sources.LakeFilters.translate(Seq(
      GreaterThanOrEqual("event_id", 100L),
      LessThan("event_id", 200L),
      And(EqualTo("event_type", "click"), GreaterThan("user_id", 5)),
      In("lang", Array("en", "de")),
      IsNotNull("event_id"),                   // unsupported: ignored
      EqualTo("value", 1.5)))                  // non-int: ignored
    assert(ints("event_id") === (100L, 200L))  // strict bound relaxes, stays a superset
    assert(ints("user_id") === (5L, Long.MaxValue))
    assert(strs("event_type") === ("click", "click"))
    assert(points("event_type") === Seq("click"))
    assert(points("lang") === Seq("en", "de"))
    assert(!ints.contains("value"))
  }

  test("streaming source tails commits exactly once across restarts") {
    val root = graft.util.Scratch.dir("graft_dss_")
    val sink = graft.util.Scratch.dir("graft_dss_sink_")
    val ckpt = graft.util.Scratch.dir("graft_dss_ck_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    def drain(): Unit = {
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val nEven = ev.filter(col("event_id") % 2 === 0).count()
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    drain()
    assert(spark.read.parquet(sink).count() === nEven,
      "first drain must deliver exactly snapshot 1")
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    drain()
    val out = spark.read.parquet(sink)
    assert(out.count() === ev.count(),
      "second drain must deliver ONLY snapshot 2 (no re-read, no loss)")
    assert(out.select(col("event_id")).distinct().count() === ev.count(),
      "every event exactly once across restarts")
    // draining again with no new commits delivers nothing
    drain()
    assert(spark.read.parquet(sink).count() === ev.count())
    graft.util.Scratch.rmNow(root); graft.util.Scratch.rmNow(sink); graft.util.Scratch.rmNow(ckpt)
  }

  test("changelog read attributes inserts/deletes per snapshot; maintenance emits nothing") {
    val root = graft.util.Scratch.dir("graft_cdf_spec_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 1), cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_id", ev.filter(col("event_id") % 10 === 0))
    LakeTable.foldDeletes(spark, root, cfg, Seq("event_id"))
    LakeTable.merge(spark, root, "event_id",
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + lit(1000.0d)), cfg, Seq("event_id"))
    val cl = LakeTable.changelogRead(spark, root, 0, 5).cache()
    def n(snap: Int, kind: String): Long =
      cl.filter(col("_change_snap") === snap && col("_change_type") === kind).count()
    val nEven = ev.filter(col("event_id") % 2 === 0).count()
    val nOdd = ev.filter(col("event_id") % 2 === 1).count()
    val nTen = ev.filter(col("event_id") % 10 === 0).count()
    val nSeven = ev.filter(col("event_id") % 7 === 0).count()
    val nSevenLive = ev.filter(col("event_id") % 7 === 0 && col("event_id") % 10 =!= 0).count()
    assert(n(1, "insert") === nEven && n(1, "delete") === 0L)
    assert(n(2, "insert") === nOdd && n(2, "delete") === 0L)
    assert(n(3, "insert") === 0L && n(3, "delete") === nTen,
      "MoR delete commit must emit exactly the masked pre-image rows")
    assert(n(4, "insert") === 0L && n(4, "delete") === 0L,
      "foldDeletes is content-preserving maintenance — zero change rows")
    assert(n(5, "insert") === nSeven && n(5, "delete") === nSevenLive,
      "merge = delete-of-old-version + insert-of-new under one snap")
    // conservation law: net changelog == final view cardinality
    val ins = cl.filter(col("_change_type") === "insert").count()
    val del = cl.filter(col("_change_type") === "delete").count()
    assert(ins - del === LakeTable.read(spark, root).count())
    cl.unpersist()
    // an empty range still serves the table schema plus the tags
    val empty = LakeTable.changelogRead(spark, root, 5, 5)
    assert(empty.count() === 0L)
    assert(empty.columns.contains("_change_type") && empty.columns.contains("event_id"))
    // a delete-only range emits only delete rows
    val d3 = LakeTable.changelogRead(spark, root, 2, 3)
    assert(d3.filter(col("_change_type") === "insert").count() === 0L)
    assert(d3.count() === nTen)
    graft.util.Scratch.rmNow(root)
  }

  test("changelog flattens multi-append insert attribution to one scan; replace diff keeps multiset semantics") {
    val root = graft.util.Scratch.dir("graft_cdf_flat_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    (0 until 5).foreach(k => LakeTable.commit(spark, root,
      ev.filter(col("event_id") % 5 === k), cfg, Seq("event_id")))
    val cl = LakeTable.changelogRead(spark, root, 0, 5)
    // PLAN FLATNESS: five pure-append commits attribute through ONE
    // lake scan (path→snapshot map literal), not one union term per
    // commit — plan size constant in range length
    val scans = cl.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.size === 1,
      s"expected ONE flattened scan for a 5-append range, got ${scans.size}")
    // attribution values identical to the per-commit shape
    (1 to 5).foreach { s =>
      val n = cl.filter(col("_change_snap") === s &&
        col("_change_type") === "insert").count()
      assert(n === ev.filter(col("event_id") % 5 === (s - 1)).count(),
        s"snapshot $s insert rows")
    }
    assert(cl.filter(col("_change_type") === "delete").count() === 0L)
    // REPLACE-type attribution: the one-shuffle signed diff must
    // replicate MULTISET deltas exactly (rows with multiplicity)
    val root2 = graft.util.Scratch.dir("graft_cdf_flat2_")
    import spark.implicits._
    val dup = Seq((1L, "a"), (1L, "a"), (2L, "b"))
      .toDF("k", "v")
    LakeTable.commit(spark, root2,
      dup.repartition(1).sortWithinPartitions("k"),
      BlockWriter.Config("k", "k", maxRecordsPerFile = 4096), Seq("k"))
    // rewrite drops ONE copy of (1,a) and adds TWO copies of (3,c)
    val next = Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "c")).toDF("k", "v")
    LakeTable.rewrite(spark, root2,
      next.repartition(1).sortWithinPartitions("k"),
      BlockWriter.Config("k", "k", maxRecordsPerFile = 4096), Seq("k"))
    val d = LakeTable.changelogRead(spark, root2, 1, 2)
    assert(d.filter(col("_change_type") === "insert").count() === 2L,
      "two inserted copies of (3,c)")
    assert(d.filter(col("_change_type") === "delete").count() === 1L,
      "exactly ONE deleted copy of the duplicated (1,a)")
    assert(d.filter(col("_change_type") === "delete" && col("k") === 1L)
      .count() === 1L)
    graft.util.Scratch.rmNow(root); graft.util.Scratch.rmNow(root2)
  }

  test("writeTasks fan-out hint: staged layout byte-equivalent (buckets, files, rows, order)") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .filter(col("event_id") % 37 === 0) // small frame, many users
    val base = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    val dirA = graft.util.Scratch.dir("graft_wt_a_")
    val dirB = graft.util.Scratch.dir("graft_wt_b_")
    BlockWriter.writeFlat(ev, s"$dirA/d", base)
    BlockWriter.writeFlat(ev, s"$dirB/d", base.copy(writeTasks = Some(3)))
    def layout(d: String): Map[Int, (Int, Long)] = {
      val files = spark.read.parquet(s"$d/d")
        .withColumn("f", col("_metadata.file_path"))
        .groupBy(col(BlockWriter.BucketDir), col("f"))
        .agg(count(lit(1)).as("n")).collect()
      files.groupBy(_.getInt(0)).map { case (b, rs) =>
        b -> ((rs.length, rs.map(_.getLong(2)).sum))
      }
    }
    // same non-empty buckets, same per-bucket file count and row count
    assert(layout(dirA) === layout(dirB),
      "fan-out hint must not change the bucket/file layout")
    // per-bucket CONTENT identical and key-ordered within files
    val a = spark.read.parquet(s"$dirA/d")
      .orderBy(col(BlockWriter.BucketDir), col("event_id")).collect()
    val b = spark.read.parquet(s"$dirB/d")
      .orderBy(col(BlockWriter.BucketDir), col("event_id")).collect()
    assert(a.toSeq === b.toSeq)
    // divisor law: every requested fan-out maps to a divisor ≥ want
    assert(BlockWriter.divisorFanout(32, 3) === 4)
    assert(BlockWriter.divisorFanout(32, 32) === 32)
    assert(BlockWriter.divisorFanout(12, 5) === 6)
    assert(BlockWriter.divisorFanout(7, 3) === 7)
    assert(BlockWriter.divisorFanout(8, 0) === 1)
    graft.util.Scratch.rmNow(dirA); graft.util.Scratch.rmNow(dirB)
  }

  test("CDC apply merges one atomic upsert per batch, idempotent under re-drain") {
    val root = graft.util.Scratch.dir("graft_cdcapply_")
    val staged = graft.util.Scratch.dir("graft_cdcapply_in_")
    val ckpt = graft.util.Scratch.dir("graft_cdcapply_ck_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    LakeTable.commit(spark, root, ev, cfg, Seq("event_id"))
    // winner (+1000, original ts) and loser (+500, ts-1s) share a key
    // — in-batch latest-wins must keep the winner; key-hash staging
    // keeps each key's records in one batch
    ev.filter(col("event_id") % 3 === 0).withColumn("value", col("value") + lit(1000.0d))
      .unionByName(ev.filter(col("event_id") % 3 === 0)
        .withColumn("value", col("value") + lit(500.0d))
        .withColumn("ts", col("ts") - expr("INTERVAL 1 SECOND")))
      .repartition(2, col("event_id"))
      .write.mode("overwrite").parquet(staged)
    val head = graft.streaming.LakeStream.applyCdcToLake(
      spark, staged, root, "event_id", "ts", cfg, Seq("event_id"), checkpoint = ckpt)
    assert(head === 3, "one base commit + one merge commit per batch")
    val out = LakeTable.read(spark, root).cache()
    assert(out.count() === ev.count(), "upsert preserves cardinality")
    assert(out.select(col("event_id")).distinct().count() === ev.count(),
      "no duplicate keys after merge")
    val expect = ev.withColumn("value",
      when(col("event_id") % 3 === 0, col("value") + lit(1000.0d)).otherwise(col("value")))
    val expSum = expect.agg(sum(floor(col("value") * 100 + 0.5))).head().getLong(0)
    val gotSum = out.agg(sum(floor(col("value") * 100 + 0.5))).head().getLong(0)
    assert(gotSum === expSum,
      "winner (+1000) must survive in-batch resolution — a +500 decoy means the order column was ignored")
    out.unpersist()
    // re-drain with the same checkpoint: no new batches, no new commits
    val head2 = graft.streaming.LakeStream.applyCdcToLake(
      spark, staged, root, "event_id", "ts", cfg, Seq("event_id"), checkpoint = ckpt)
    assert(head2 === head, "re-drain must be a no-op")
    graft.util.Scratch.rmNow(root); graft.util.Scratch.rmNow(staged); graft.util.Scratch.rmNow(ckpt)
  }

  test("predicate overwrite is surgical: untouched files kept by reference, tombstone metadata") {
    val root = graft.util.Scratch.dir("graft_ow_spec_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    // small files + ts range clustering → tight per-file ts extents
    val owCfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 128)
    LakeTable.commit(spark, root, ev, owCfg, Seq("event_id", "ts"), rangeCluster = true)
    val m1 = LakeTable.manifest(root, 1)
    assert(m1.files.size >= 6, s"need a multi-file layout, got ${m1.files.size}")
    val lo = 1704844800000000L // 2024-01-10 in micros
    val hi = 1704931199999999L
    val day = ev.filter(unix_micros(col("ts")).between(lo, hi))
      .withColumn("value", col("value") + lit(1000.0d))
    // incoming rows outside the box are rejected (the replaceWhere contract)
    intercept[IllegalArgumentException] {
      LakeTable.overwriteWhere(spark, root, Map("ts" -> (lo, hi)),
        ev.limit(50), owCfg, Seq("event_id", "ts"))
    }
    LakeTable.overwriteWhere(spark, root, Map("ts" -> (lo, hi)), day, owCfg,
      Seq("event_id", "ts"), rangeCluster = true)
    val m2 = LakeTable.manifest(root, 2)
    val oldPaths = m1.files.map(_.path).toSet
    val keptPaths = m2.files.map(_.path).toSet.intersect(oldPaths)
    val retired = oldPaths -- m2.files.map(_.path).toSet
    assert(retired.nonEmpty && keptPaths.nonEmpty,
      s"surgical overwrite must retire SOME files and keep the rest " +
        s"(retired ${retired.size}, kept ${keptPaths.size} of ${oldPaths.size})")
    assert(retired.size <= m1.files.size / 2,
      s"a one-day overwrite of a 30-day table should touch a minority of files " +
        s"(touched ${retired.size} of ${m1.files.size})")
    // kept files are the SAME entries (seq, stats) — inherited by part
    // reference, not rewritten
    val m1ByPath = m1.files.map(f => f.path -> f).toMap
    keptPaths.foreach { p =>
      assert(m2.files.find(_.path == p).get === m1ByPath(p)) }
    // content law: head == events with the day's values bumped
    val expect = ev.withColumn("value",
      when(unix_micros(col("ts")).between(lo, hi), col("value") + lit(1000.0d))
        .otherwise(col("value")))
    val got = LakeTable.read(spark, root)
    assert(got.count() === ev.count())
    assert(got.exceptAll(expect).count() === 0L && expect.exceptAll(got).count() === 0L)
    // time travel: snapshot 1 still reads the original
    assert(LakeTable.read(spark, root, Some(1)).exceptAll(ev).count() === 0L)
    // and the changelog attributes the overwrite via the view diff
    val cl = LakeTable.changelogRead(spark, root, 1, 2)
    val nDay = ev.filter(unix_micros(col("ts")).between(lo, hi)).count()
    assert(cl.filter(col("_change_type") === "insert").count() === nDay)
    assert(cl.filter(col("_change_type") === "delete").count() === nDay)
    graft.util.Scratch.rmNow(root)
  }

  test("incremental MV folds append-only deltas, falls back to full on deletes") {
    import graft.lake.IncrementalMv
    val base = graft.util.Scratch.dir("graft_mv_spec_b_")
    val mv = graft.util.Scratch.dir("graft_mv_spec_m_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val mvCfg = BlockWriter.Config("event_type", "event_type", maxRecordsPerFile = 4096)
    val aggs = Seq(
      IncrementalMv.Agg("n", count(lit(1)), sum(_)),
      IncrementalMv.Agg("min_id", min(col("event_id")), min(_)))
    LakeTable.commit(spark, base, ev.filter(col("event_id") % 3 === 0), cfg, Seq("event_id"))
    IncrementalMv.create(spark, base, mv, Seq("event_type"), aggs, mvCfg)
    assert(IncrementalMv.basis(mv) === 1)
    // a refresh with nothing new is a no-op: no commit, basis unchanged
    IncrementalMv.refresh(spark, base, mv, Seq("event_type"), aggs, mvCfg)
    assert(LakeTable.currentSnapshot(mv) === 1, "no-op refresh must not commit")
    LakeTable.commit(spark, base, ev.filter(col("event_id") % 3 === 1), cfg, Seq("event_id"))
    LakeTable.commit(spark, base, ev.filter(col("event_id") % 3 === 2), cfg, Seq("event_id"))
    IncrementalMv.refresh(spark, base, mv, Seq("event_type"), aggs, mvCfg)
    // append-only range took the INCREMENTAL path (note-stamped)
    assert(LakeTable.manifest(mv, LakeTable.currentSnapshot(mv)).note === "mv-basis-3-incr")
    // incremental state == full recompute
    val full = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"))
    val got = LakeTable.read(spark, mv)
    assert(got.exceptAll(full).count() === 0L && full.exceptAll(got).count() === 0L,
      "incrementally-folded MV state must equal a full recompute")
    // a MoR delete makes the range non-append-only: full fallback
    LakeTable.deleteWhere(spark, base, "event_id", ev.filter(col("event_id") % 10 === 0))
    IncrementalMv.refresh(spark, base, mv, Seq("event_type"), aggs, mvCfg)
    assert(LakeTable.manifest(mv, LakeTable.currentSnapshot(mv)).note === "mv-basis-4-full",
      "a delete in the range must force the full-recompute path (min/max can't fold through deletes)")
    val fullAfter = ev.filter(col("event_id") % 10 =!= 0).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"))
    val gotAfter = LakeTable.read(spark, mv)
    assert(gotAfter.exceptAll(fullAfter).count() === 0L &&
      fullAfter.exceptAll(gotAfter).count() === 0L)
    graft.util.Scratch.rmNow(base); graft.util.Scratch.rmNow(mv)
  }

  test("branchDiff: net changes only (churn cancels); re-branch after publish diffs empty; stale main refused") {
    val s = spark
    import s.implicits._
    val root = graft.util.Scratch.dir("graft_brdiff_spec_")
    val cfg = BlockWriter.Config("k", "id", maxRecordsPerFile = 64)
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"k${i % 3}", i * 1.0)).toDF("id", "k", "v")
    LakeTable.commit(s, root, rows(1L to 12L), cfg, Seq("id"))
    LakeTable.branch(root, "wap")
    val b = LakeTable.branchRoot(root, "wap")
    LakeTable.commit(s, b, rows(13L to 20L), cfg, Seq("id"))
    // churn: 15..16 added above then audit-rejected — must vanish
    LakeTable.deleteWhere(s, b, "id", Seq(15L, 16L).toDF("id"))
    // inherited retraction: 3 and 6 from the main generation
    LakeTable.deleteWhere(s, b, "id", Seq(3L, 6L).toDF("id"))
    val d = LakeTable.branchDiff(s, root, "wap")
      .select($"id", $"_change_type").as[(Long, String)].collect().toSet
    val expIns = ((13L to 20L).toSet -- Set(15L, 16L)).map(_ -> "insert")
    val expDel = Set(3L, 6L).map(_ -> "delete")
    assert(d === expIns ++ expDel,
      s"diff must be the NET changes; got $d")
    // publishing then re-branching yields an empty diff
    LakeTable.publishBranch(root, "wap")
    LakeTable.branch(root, "wap2")
    assert(LakeTable.branchDiff(s, root, "wap2").count() === 0L)
    // a branch whose main moved after the fork gets a pointed error
    LakeTable.branch(root, "wap3")
    LakeTable.commit(s, LakeTable.branchRoot(root, "wap3"), rows(30L to 32L), cfg, Seq("id"))
    LakeTable.commit(s, root, rows(40L to 42L), cfg, Seq("id"))
    val e = intercept[IllegalArgumentException] {
      LakeTable.branchDiff(s, root, "wap3")
    }
    assert(e.getMessage.contains("re-branch"), e.getMessage)
    graft.util.Scratch.rmNow(root)
  }

  test("join-MV delta law: signed CDF deltas land on the recompute; zero-count groups leave; no-op refresh") {
    import graft.lake.IncrementalJoinMv
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_jmv_spec_f_")
    val dim = graft.util.Scratch.dir("graft_jmv_spec_d_")
    val mv = graft.util.Scratch.dir("graft_jmv_spec_m_")
    val fCfg = BlockWriter.Config("k", "id", maxRecordsPerFile = 64)
    val dCfg = BlockWriter.Config("k", "k", maxRecordsPerFile = 64)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 64)
    def factRows(ids: Seq[Long]) =
      ids.map(i => (i, s"k${i % 4}", i * 10L)).toDF("id", "k", "x")
    // dim: key k0..k3 → group g (two keys per group)
    LakeTable.commit(s, fact, factRows(1L to 20L), fCfg, Seq("id"))
    LakeTable.commit(s, dim,
      Seq(("k0", "a"), ("k1", "a"), ("k2", "b"), ("k3", "b")).toDF("k", "g"),
      dCfg, Seq("k"))
    val aggs = Seq(IncrementalJoinMv.sumAgg("sx", col("x")))
    IncrementalJoinMv.create(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    assert(IncrementalJoinMv.basis(mv) === ((1, 1)))
    def recompute(): Map[String, (Long, Long)] =
      LakeTable.read(s, fact).join(LakeTable.read(s, dim), "k")
        .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def mvState(): Map[String, (Long, Long)] =
      LakeTable.read(s, mv).select(col("g"), col("n"), col("sx"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(mvState() === recompute())
    // no-op refresh: no commit, basis unchanged
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    assert(LakeTable.currentSnapshot(mv) === 1, "no-op refresh must not commit")
    // fact append + fact delete (signed −), one refresh
    LakeTable.commit(s, fact, factRows(21L to 30L), fCfg, Seq("id"))
    LakeTable.deleteWhere(s, fact, "id", (1L to 20L by 2).toDF("id"))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    assert(IncrementalJoinMv.basis(mv) === ((3, 1)))
    assert(mvState() === recompute(), "fact-side deltas must land on the recompute")
    // dim rewire: k2/k3 move from group b to c → matching −b/+c deltas;
    // group b's count reaches ZERO and must leave the view
    LakeTable.merge(s, dim,
      "k", Seq(("k2", "c"), ("k3", "c")).toDF("k", "g"), dCfg, Seq("k"))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    assert(IncrementalJoinMv.basis(mv) === ((3, 2)))
    val st = mvState()
    assert(st === recompute(), "dim-side deltas must land on the recompute")
    assert(!st.contains("b"), "zero-count group must leave the view")
    // combined fact+dim changes in ONE refresh also land exactly
    LakeTable.commit(s, fact, factRows(31L to 35L), fCfg, Seq("id"))
    LakeTable.merge(s, dim, "k", Seq(("k0", "c")).toDF("k", "g"), dCfg, Seq("k"))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    assert(mvState() === recompute(), "combined fact+dim refresh must land on the recompute")
    graft.util.Scratch.rmNow(fact); graft.util.Scratch.rmNow(dim); graft.util.Scratch.rmNow(mv)
  }

  test("join-MV fold is O(Δ groups): untouched groups' data files stay byte-identical; dead groups retire via the mask") {
    import graft.lake.IncrementalJoinMv
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_jmvd_spec_f_")
    val dim = graft.util.Scratch.dir("graft_jmvd_spec_d_")
    val mv = graft.util.Scratch.dir("graft_jmvd_spec_m_")
    val fCfg = BlockWriter.Config("k", "id", maxRecordsPerFile = 64)
    val dCfg = BlockWriter.Config("k", "k", maxRecordsPerFile = 64)
    // one MV data file per group (partitioned by g, tiny groups)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 64)
    def factRows(ids: Seq[Long], k: Long => String) =
      ids.map(i => (i, k(i), i * 10L)).toDF("id", "k", "x")
    LakeTable.commit(s, fact, factRows(1L to 16L, i => s"k${i % 4}"), fCfg, Seq("id"))
    LakeTable.commit(s, dim,
      Seq(("k0", "a"), ("k1", "a"), ("k2", "b"), ("k3", "c")).toDF("k", "g"),
      dCfg, Seq("k"))
    val aggs = Seq(IncrementalJoinMv.sumAgg("sx", col("x")))
    IncrementalJoinMv.create(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    def bytesOf(p: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.stripPrefix("file:")))
    val files1 = LakeTable.manifest(mv, 1).files.map(_.path)
    val bytes1 = files1.map(p => p -> bytesOf(p).toSeq).toMap
    def recompute(): Map[String, (Long, Long)] =
      LakeTable.read(s, fact).join(LakeTable.read(s, dim), "k")
        .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def mvState(): Map[String, (Long, Long)] =
      LakeTable.read(s, mv).select(col("g"), col("n"), col("sx"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // fact-only append touching ONLY group a (keys k0/k1): the fold
    // must be a MERGE — untouched groups b and c keep their snapshot-1
    // data files BY REFERENCE, byte for byte
    LakeTable.commit(s, fact, factRows(17L to 24L, i => s"k${i % 2}"), fCfg, Seq("id"))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    val m2 = LakeTable.manifest(mv, 2)
    assert(files1.toSet.subsetOf(m2.files.map(_.path).toSet),
      "untouched snapshot-1 data files must survive the refresh by reference")
    files1.foreach(p => assert(bytesOf(p).toSeq === bytes1(p),
      s"data file rewritten by a fold that should not touch it: $p"))
    assert(m2.deletes.exists(_.seq == 2),
      "the fold commit must carry its equality-delete mask")
    assert(mvState() === recompute())
    // group c dies (its only key k3 is deleted from the fact side):
    // retirement rides the SAME single fold commit; b's file is still
    // the snapshot-1 original
    LakeTable.deleteWhere(s, fact, "id",
      (1L to 24L).filter(_ % 4 == 3).toDF("id"))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    val st = mvState()
    assert(st === recompute() && !st.contains("c"),
      "dead group must leave the view through the fold's delete mask")
    assert(files1.toSet.subsetOf(
      LakeTable.manifest(mv, 3).files.map(_.path).toSet),
      "MoR fold keeps prior files by reference; nothing is rewritten")
    assert(LakeTable.currentSnapshot(mv) === 3,
      "each refresh is exactly one commit")
    graft.util.Scratch.rmNow(fact); graft.util.Scratch.rmNow(dim); graft.util.Scratch.rmNow(mv)
  }

  test("min/max MV: targeted recompute provably reads only touched groups' fact files; deletes re-derive minima; dead groups retire") {
    import graft.lake.MinMaxMv
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_mmv_spec_f_")
    val mv = graft.util.Scratch.dir("graft_mmv_spec_m_")
    val fCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 8)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 64)
    def rows(ids: Seq[Long], g: Long => String) =
      ids.map(i => (i, g(i), i * 10L)).toDF("id", "g", "x")
    LakeTable.commit(s, fact, rows(1L to 16L, i => s"k${i % 4}"),
      fCfg, Seq("id", "g"))
    MinMaxMv.create(s, fact, mv, "g", "x", mCfg)
    def bytesOf(p: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.stripPrefix("file:"))).toSeq
    val mvFiles1 = LakeTable.manifest(mv, 1).files.map(_.path)
    val mvBytes1 = mvFiles1.map(p => p -> bytesOf(p)).toMap
    def mvState(): Map[String, (Long, Long, Long)] =
      LakeTable.read(s, mv).select(col("g"), col("n"), col("min_x"), col("max_x"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(mvState() === Map(
      "k0" -> ((4L, 40L, 160L)), "k1" -> ((4L, 10L, 130L)),
      "k2" -> ((4L, 20L, 140L)), "k3" -> ((4L, 30L, 150L))))
    // ---- append touching ONLY k0, then HIDE every PRE-APPEND fact
    // file: the append-only FOLD reads nothing but the delta files
    // (min/max are distributive over pure appends) — a plan touching
    // the fact head would throw. Note stamped -fold.
    LakeTable.commit(s, fact, rows(17L to 20L, _ => "k0"), fCfg, Seq("id", "g"))
    val head = LakeTable.currentSnapshot(fact)
    val preAppend = LakeTable.manifest(fact, head).files
      .filter(_.seq < head).map(_.path)
    assert(preAppend.nonEmpty, "fixture needs pre-append files to hide")
    def shift(hide: Boolean): Unit = preAppend.foreach { p =>
      val f = java.nio.file.Paths.get(p.stripPrefix("file:"))
      val h = java.nio.file.Paths.get(f.toString + ".hidden")
      java.nio.file.Files.move(if (hide) f else h, if (hide) h else f): Unit
    }
    shift(hide = true)
    try MinMaxMv.refresh(s, fact, mv, "g", "x", mCfg): Unit
    finally shift(hide = false)
    assert(MinMaxMv.mode(mv) === "fold",
      "a pure-append range must take the distributive fold")
    assert(mvState() === Map(
      "k0" -> ((8L, 40L, 200L)), "k1" -> ((4L, 10L, 130L)),
      "k2" -> ((4L, 20L, 140L)), "k3" -> ((4L, 30L, 150L))))
    // untouched groups' MV files survived by reference, byte for byte
    assert(mvFiles1.toSet.subsetOf(
      LakeTable.manifest(mv, 2).files.map(_.path).toSet))
    mvFiles1.foreach(p => assert(bytesOf(p) === mvBytes1(p)))
    // ---- the non-distributive case: delete k1's minimum row — a
    // signed delta cannot answer, the targeted recompute must. PIN
    // the recompute's pruning at the PLAN level: the exact IN-pruned
    // scan shape refresh uses must plan ONLY touched-extent files.
    // (Physically hiding untouched files cannot pin this stage: the
    // delete commit's changelog attribution legitimately diffs the
    // full pre-state — only the RECOMPUTE scan is group-pruned.)
    LakeTable.deleteWhere(s, fact, "id", Seq(1L).toDF("id"))
    val head2 = LakeTable.currentSnapshot(fact)
    val nonK1 = LakeTable.manifest(fact, head2).files.filter { f =>
      f.stats.get("g").exists(cs => cs.maxS < "k1" || cs.minS > "k1")
    }.map(_.path.stripPrefix("file:")).toSet
    assert(nonK1.nonEmpty, "fixture needs untouched-group files")
    val pruneDf = s.read.format("graft-lake").option("snapshot", head2)
      .load(fact).filter(col("g").isin("k1"))
    pruneDf.collect(): Unit // plan + execute so the scan records
    val planned = pruneDf.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collect { case g: graft.sources.GraftScan => g }
      .flatMap(_.plannedFiles.map(_.path.stripPrefix("file:"))).toSet
    assert(planned.nonEmpty && planned.intersect(nonK1).isEmpty,
      "the IN-pruned recompute scan must plan only touched-extent files")
    MinMaxMv.refresh(s, fact, mv, "g", "x", mCfg)
    assert(MinMaxMv.mode(mv) === "targeted")
    assert(mvState()("k1") === ((3L, 50L, 130L)),
      "deleting the group minimum must RAISE min_x")
    // ---- a group vanishing entirely retires through the mask
    LakeTable.deleteWhere(s, fact, "id",
      (1L to 16L).filter(_ % 4 == 3).toDF("id"))
    MinMaxMv.refresh(s, fact, mv, "g", "x", mCfg)
    val st = mvState()
    assert(!st.contains("k3") && st.contains("k2"))
    graft.util.Scratch.rmNow(fact); graft.util.Scratch.rmNow(mv)
  }

  test("single-kind MV: a BASE-table rollback is NOT append-only — the refresh recomputes instead of folding an empty delta over stale state") {
    import graft.lake.IncrementalMv
    val s = spark
    import s.implicits._
    val base = graft.util.Scratch.dir("graft_smvrb_b_")
    val mv = graft.util.Scratch.dir("graft_smvrb_m_")
    val cfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 64)
    val mvCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 64)
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"k${i % 2}", i * 10L)).toDF("id", "g", "x")
    val aggs = Seq(
      IncrementalMv.Agg("n", count(lit(1)).cast("bigint"), c => sum(c).cast("bigint")),
      IncrementalMv.Agg("sx", sum(col("x")).cast("bigint"), c => sum(c).cast("bigint")))
    LakeTable.commit(s, base, rows(1L to 8L), cfg, Seq("id"))
    LakeTable.deleteWhere(s, base, "id", Seq(2L, 4L).toDF("id"))
    IncrementalMv.create(s, base, mv, Seq("g"), aggs, mvCfg)
    // roll the BASE back across the MoR delete: files identical to
    // the pre-state, dropped delete entry, nothing at the new seq —
    // the old appendOnly called this a pure append and folded an
    // EMPTY delta (fresh basis over stale state, silently)
    LakeTable.rollback(base, 1)
    IncrementalMv.refresh(s, base, mv, Seq("g"), aggs, mvCfg)
    assert(IncrementalMv.mode(mv) === "full",
      "a rollback commit in the range must force the full recompute")
    val st = LakeTable.read(s, mv).select(col("g"), col("n"), col("sx"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(st === Map("k0" -> ((4L, 200L)), "k1" -> ((4L, 160L))),
      "post-rollback refresh must reflect the RESTORED base content")
    // and a roll FORWARD (re-referencing newer files under old seqs)
    // is equally non-append
    LakeTable.rollback(base, 2)
    IncrementalMv.refresh(s, base, mv, Seq("g"), aggs, mvCfg)
    assert(IncrementalMv.mode(mv) === "full")
    val st2 = LakeTable.read(s, mv).select(col("g"), col("n"), col("sx"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(st2 === Map("k0" -> ((2L, 140L)), "k1" -> ((4L, 160L))))
    graft.util.Scratch.rmNow(base); graft.util.Scratch.rmNow(mv)
  }

  test("multi-dimension join MV: the Gupta-Mumick staircase lands on the recompute for fact/d1/d2/combined changes; composite USING keys; untouched lead groups byte-identical") {
    import graft.lake.IncrementalJoinMv
    import graft.lake.IncrementalJoinMv.DimSpec
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_star_f_")
    val dim1 = graft.util.Scratch.dir("graft_star_d1_")
    val dim2 = graft.util.Scratch.dir("graft_star_d2_")
    val mv = graft.util.Scratch.dir("graft_star_m_")
    val fCfg = BlockWriter.Config("k1", "id", maxRecordsPerFile = 64)
    val dCfg = BlockWriter.Config("k1", "k1", maxRecordsPerFile = 64)
    val d2Cfg = BlockWriter.Config("k2", "k2", maxRecordsPerFile = 64)
    // one MV data file per leading group (partitioned by u)
    val mCfg = BlockWriter.Config("u", "u", maxRecordsPerFile = 64)
    // k2 tracks k1 (same index) so a d2 rewire of b2 touches ONLY
    // lead group u1 — the byte-identity pin below depends on it
    def factRows(ids: Seq[Long]) =
      ids.map(i => (i, s"a${i % 3}", s"b${i % 3}", i % 2, i * 10L))
        .toDF("id", "k1", "k2", "t", "x")
    LakeTable.commit(s, fact, factRows(1L to 24L), fCfg, Seq("id"))
    LakeTable.commit(s, dim1,
      Seq(("a0", "u0"), ("a1", "u0"), ("a2", "u1")).toDF("k1", "u"),
      dCfg, Seq("k1"))
    // composite key (k2, t): the second dimension buckets on BOTH
    LakeTable.commit(s, dim2,
      (for (j <- 0 to 2; t <- 0 to 1)
        yield (s"b$j", t.toLong, s"v${(j + t) % 2}")).toDF("k2", "t", "v"),
      d2Cfg, Seq("k2"))
    val dims = Seq(DimSpec(dim1, Seq("k1")), DimSpec(dim2, Seq("k2", "t")))
    val aggs = Seq(IncrementalJoinMv.sumAgg("sx", col("x")))
    IncrementalJoinMv.create(s, fact, dims, mv, Seq("u", "v"), aggs, mCfg)
    assert(IncrementalJoinMv.basisAll(mv) === Seq(1, 1, 1))
    def recompute(): Map[(String, String), (Long, Long)] =
      LakeTable.read(s, fact)
        .join(LakeTable.read(s, dim1), Seq("k1"))
        .join(LakeTable.read(s, dim2), Seq("k2", "t"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    def mvState(): Map[(String, String), (Long, Long)] =
      LakeTable.read(s, mv).select(col("u"), col("v"), col("n"), col("sx"))
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(mvState() === recompute())
    // ---- term 0: fact append + delete against BOTH dims at old snaps
    LakeTable.commit(s, fact, factRows(25L to 36L), fCfg, Seq("id"))
    LakeTable.deleteWhere(s, fact, "id", (1L to 24L by 4).toDF("id"))
    IncrementalJoinMv.refresh(s, fact, dims, mv, Seq("u", "v"), aggs, mCfg)
    assert(IncrementalJoinMv.basisAll(mv) === Seq(3, 1, 1))
    assert(mvState() === recompute(), "fact-only staircase term must land on the recompute")
    // ---- term 1: d1 rewire (a2 moves u1→u0)
    LakeTable.merge(s, dim1, "k1", Seq(("a2", "u0")).toDF("k1", "u"),
      dCfg, Seq("k1"))
    IncrementalJoinMv.refresh(s, fact, dims, mv, Seq("u", "v"), aggs, mCfg)
    assert(IncrementalJoinMv.basisAll(mv) === Seq(3, 2, 1))
    val st1 = mvState()
    assert(st1 === recompute(), "d1 staircase term must land on the recompute")
    assert(!st1.keys.exists(_._1 == "u1"), "drained lead group must leave the view")
    // restore a2→u1 so u0/u1 both live again, then pin byte identity
    LakeTable.merge(s, dim1, "k1", Seq(("a2", "u1")).toDF("k1", "u"),
      dCfg, Seq("k1"))
    IncrementalJoinMv.refresh(s, fact, dims, mv, Seq("u", "v"), aggs, mCfg)
    assert(mvState() === recompute())
    def bytesOf(p: String): Seq[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.stripPrefix("file:"))).toSeq
    val head0 = LakeTable.currentSnapshot(mv)
    val u0Files = LakeTable.manifest(mv, head0).files
      .filter(_.stats.get("u").exists(cs => cs.maxS == "u0" && cs.minS == "u0"))
      .map(_.path)
    assert(u0Files.nonEmpty, "fixture needs u0-only MV files to pin")
    val u0Bytes = u0Files.map(p => p -> bytesOf(p)).toMap
    // ---- term 2: d2 rewire of b2 (composite key) touches ONLY lead
    // group u1 — u0's MV files must survive byte-identically
    LakeTable.merge(s, dim2, "k2",
      Seq(("b2", 0L, "v9"), ("b2", 1L, "v9")).toDF("k2", "t", "v"),
      d2Cfg, Seq("k2"))
    IncrementalJoinMv.refresh(s, fact, dims, mv, Seq("u", "v"), aggs, mCfg)
    assert(IncrementalJoinMv.basisAll(mv).tail === Seq(3, 2))
    val st2 = mvState()
    assert(st2 === recompute(), "composite-key d2 staircase term must land on the recompute")
    assert(st2.keys.exists(_._2 == "v9"))
    val headFiles = LakeTable.manifest(mv, LakeTable.currentSnapshot(mv))
      .files.map(_.path).toSet
    assert(u0Files.toSet.subsetOf(headFiles),
      "untouched lead group's files must survive by reference")
    u0Files.foreach(p => assert(bytesOf(p) === u0Bytes(p),
      "untouched lead group's files must stay byte-identical"))
    // ---- combined: fact + BOTH dims change before ONE refresh — the
    // cross terms (F¹⋈ΔD₁⋈D₂⁰, F¹⋈D₁¹⋈ΔD₂) must compose exactly
    LakeTable.commit(s, fact, factRows(37L to 42L), fCfg, Seq("id"))
    LakeTable.merge(s, dim1, "k1", Seq(("a0", "u1")).toDF("k1", "u"),
      dCfg, Seq("k1"))
    LakeTable.merge(s, dim2, "k2",
      Seq(("b0", 0L, "v9")).toDF("k2", "t", "v"), d2Cfg, Seq("k2"))
    IncrementalJoinMv.refresh(s, fact, dims, mv, Seq("u", "v"), aggs, mCfg)
    assert(mvState() === recompute(),
      "combined fact+d1+d2 staircase must land on the recompute")
    // ---- BASE-table rollbacks fold correctly: the changelog
    // attributes each rollback commit as a multiset diff, so a
    // rollback-and-restore pair nets to zero and the refresh still
    // lands on the recompute
    LakeTable.rollback(dim1, 2)
    LakeTable.rollback(dim1, 4)
    IncrementalJoinMv.refresh(s, fact, dims, mv, Seq("u", "v"), aggs, mCfg)
    assert(mvState() === recompute())
    Seq(fact, dim1, dim2, mv).foreach(graft.util.Scratch.rmNow)
  }

  test("min/max MV cap: past graft.mvrefresh.maxgroups the refresh is ONE full-recompute commit; typed (timestamp) group keys stay exact") {
    import graft.lake.{AutoMaintain, MinMaxMv}
    val s = spark
    import s.implicits._
    val fact = graft.util.Scratch.dir("graft_mmvcap_f_")
    val mv = graft.util.Scratch.dir("graft_mmvcap_m_")
    val fCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 8)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 64)
    // TIMESTAMP group keys: the delete frame and IN filter must carry
    // the typed values end-to-end (a String round-trip is lossy for
    // non-string group types in general)
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, ts((i % 4).toInt), i * 10L)).toDF("id", "g", "x")
    LakeTable.commit(s, fact, rows(1L to 16L), fCfg, Seq("id", "g"))
    MinMaxMv.create(s, fact, mv, "g", "x", mCfg)
    def mvState(): Map[java.sql.Timestamp, (Long, Long, Long)] =
      LakeTable.read(s, mv).select(col("g"), col("n"), col("min_x"), col("max_x"))
        .as[(java.sql.Timestamp, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def recompute(): Map[java.sql.Timestamp, (Long, Long, Long)] =
      LakeTable.read(s, fact).groupBy(col("g"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("mn"), max(col("x")).as("mx"))
        .as[(java.sql.Timestamp, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(mvState() === recompute())
    // ---- UNDER the cap: typed targeted path — delete one group's
    // minimum (min must rise) and vanish another entirely (typed
    // eq-delete retirement); note stamped -targeted
    LakeTable.deleteWhere(s, fact, "id", Seq(1L).toDF("id")) // g=ts(1) min row
    LakeTable.deleteWhere(s, fact, "id",
      (1L to 16L).filter(_ % 4 == 3).toDF("id")) // g=ts(3) vanishes
    MinMaxMv.refresh(s, fact, mv, "g", "x", mCfg)
    assert(MinMaxMv.mode(mv) === "targeted")
    val st1 = mvState()
    assert(st1 === recompute(), "typed targeted refresh must land on the recompute")
    assert(st1(ts(1))._2 === 50L, "deleting the typed group's minimum must raise min_x")
    assert(!st1.contains(ts(3)), "vanished typed group must retire via the mask")
    // ---- OVER the cap: policy 2, a range with DELETES touching 3
    // groups → ONE full-recompute commit (note -full), no driver IN
    // list. (A pure append never hits the cap any more — it FOLDS
    // distributively — so the over-cap path is reached by mixing an
    // append with deletes: not append-only, 3 touched groups > 2.)
    AutoMaintain.setPolicy(mv, AutoMaintain.MvMaxGroupsKey, 2L)
    LakeTable.commit(s, fact, rows(17L to 28L).filter($"id" % 4 =!= 3),
      fCfg, Seq("id", "g"))
    LakeTable.deleteWhere(s, fact, "id", Seq(4L, 5L, 6L).toDF("id"))
    val mvHead0 = LakeTable.currentSnapshot(mv)
    MinMaxMv.refresh(s, fact, mv, "g", "x", mCfg)
    assert(LakeTable.currentSnapshot(mv) === mvHead0 + 1,
      "over-cap fallback must be ONE commit")
    assert(LakeTable.manifest(mv, mvHead0 + 1).note.endsWith("-full"),
      "over-cap refresh must stamp the full-recompute note")
    assert(MinMaxMv.mode(mv) === "full")
    assert(mvState() === recompute(), "full fallback must land on the recompute")
    // and the NEXT small refresh is targeted again
    LakeTable.deleteWhere(s, fact, "id", Seq(17L).toDF("id"))
    MinMaxMv.refresh(s, fact, mv, "g", "x", mCfg)
    assert(MinMaxMv.mode(mv) === "targeted")
    assert(mvState() === recompute())
    graft.util.Scratch.rmNow(fact); graft.util.Scratch.rmNow(mv)
  }

  test("MV basis FOLLOWS a rollback of the MV table: the next refresh folds from the restored basis, not an abandoned newer note") {
    import graft.lake.{IncrementalJoinMv, MinMaxMv}
    val s = spark
    import s.implicits._
    // ---- join MV: create (basis (1,1)) → append+refresh (basis
    // (2,1)) → rollback the MV to snap 1. The numerically-next
    // manifest below the rollback still carries jmv-basis-2-1; a
    // numeric walk would return it and the next refresh would
    // silently skip fact snap 2's rows forever.
    val fact = graft.util.Scratch.dir("graft_rbmv_f_")
    val dim = graft.util.Scratch.dir("graft_rbmv_d_")
    val mv = graft.util.Scratch.dir("graft_rbmv_m_")
    val fCfg = BlockWriter.Config("k", "id", maxRecordsPerFile = 64)
    val dCfg = BlockWriter.Config("k", "k", maxRecordsPerFile = 64)
    val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 64)
    def factRows(ids: Seq[Long]) =
      ids.map(i => (i, s"k${i % 4}", i * 10L)).toDF("id", "k", "x")
    LakeTable.commit(s, fact, factRows(1L to 20L), fCfg, Seq("id"))
    LakeTable.commit(s, dim,
      Seq(("k0", "a"), ("k1", "a"), ("k2", "b"), ("k3", "b")).toDF("k", "g"),
      dCfg, Seq("k"))
    val aggs = Seq(IncrementalJoinMv.sumAgg("sx", col("x")))
    IncrementalJoinMv.create(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    LakeTable.commit(s, fact, factRows(21L to 30L), fCfg, Seq("id"))
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    assert(IncrementalJoinMv.basis(mv) === ((2, 1)))
    LakeTable.rollback(mv, 1)
    assert(IncrementalJoinMv.basis(mv) === ((1, 1)),
      "basis must roll back WITH the data (follow the rollback target)")
    IncrementalJoinMv.refresh(s, fact, dim, mv, "k", Seq("g"), aggs, mCfg)
    val recompute = LakeTable.read(s, fact).join(LakeTable.read(s, dim), "k")
      .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val folded = LakeTable.read(s, mv).select(col("g"), col("n"), col("sx"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(folded === recompute,
      "refresh after rollback must re-fold the rolled-back changes")
    // rollback of the rollback restores the newer basis line
    LakeTable.rollback(mv, 2)
    assert(IncrementalJoinMv.basis(mv) === ((2, 1)))
    // ---- min/max MV: same law, single-basis note
    val f2 = graft.util.Scratch.dir("graft_rbmm_f_")
    val m2 = graft.util.Scratch.dir("graft_rbmm_m_")
    def gRows(ids: Seq[Long]) = ids.map(i => (i, s"k${i % 2}", i * 10L)).toDF("id", "g", "x")
    LakeTable.commit(s, f2, gRows(1L to 8L), BlockWriter.Config("g", "id"), Seq("id", "g"))
    MinMaxMv.create(s, f2, m2, "g", "x", mCfg)
    LakeTable.commit(s, f2, gRows(9L to 12L), BlockWriter.Config("g", "id"), Seq("id", "g"))
    MinMaxMv.refresh(s, f2, m2, "g", "x", mCfg)
    assert(MinMaxMv.basis(m2) === 2)
    LakeTable.rollback(m2, 1)
    assert(MinMaxMv.basis(m2) === 1, "min/max basis must follow the rollback")
    MinMaxMv.refresh(s, f2, m2, "g", "x", mCfg)
    val mm = LakeTable.read(s, m2).select(col("g"), col("max_x"))
      .as[(String, Long)].collect().toMap
    assert(mm === Map("k0" -> 120L, "k1" -> 110L),
      "post-rollback refresh must land on the fact head recompute")
    Seq(fact, dim, mv, f2, m2).foreach(graft.util.Scratch.rmNow)
  }

  test("rewrite_manifests folds the part chain to one; history/incremental/changelog stay exact") {
    val root = graft.util.Scratch.dir("graft_mfc_spec_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    (0 until 6).foreach { k =>
      LakeTable.commit(spark, root, ev.filter(col("event_id") % 6 === k), cfg,
        Seq("event_id")): Unit
    }
    LakeTable.deleteWhere(spark, root, "event_id",
      ev.filter(col("event_id") % 7 === 0).select(col("event_id")))
    val preSnap = LakeTable.currentSnapshot(root) // 7
    assert(LakeTable.partCount(root, preSnap) === 7,
      "one metadata part per commit before compaction")
    val preView = LakeTable.read(spark, root).collect().toSet
    val preIncr = LakeTable.incrementalRead(spark, root, 3, preSnap).count()
    val snap = LakeTable.rewriteManifests(root)
    assert(snap === preSnap + 1)
    // the whole point: head resolution is now ONE part read
    assert(LakeTable.partCount(root, snap) === 1)
    // metadata-only: same file inventory, original seqs, no additions
    val pm = LakeTable.manifest(root, preSnap); val m = LakeTable.manifest(root, snap)
    assert(m.files.map(f => (f.path, f.seq)).toSet ===
      pm.files.map(f => (f.path, f.seq)).toSet)
    assert(m.files.count(_.seq == snap) === 0)
    // view identical; pre-compaction snapshot resolves via its own parts
    assert(LakeTable.read(spark, root).collect().toSet === preView)
    assert(LakeTable.read(spark, root, Some(preSnap)).collect().toSet === preView)
    // incremental range SPANNING the boundary: same answer as pre-call
    assert(LakeTable.incrementalRead(spark, root, 3, snap).count() === preIncr)
    // changelog: the compaction snapshot attributes ZERO change rows
    assert(LakeTable.changelogRead(spark, root, preSnap, snap).count() === 0L)
    // idempotent: a second call is a no-op returning the same head
    assert(LakeTable.rewriteManifests(root) === snap)
    assert(LakeTable.currentSnapshot(root) === snap)
    // a post-compaction append inherits the single consolidated part
    LakeTable.commit(spark, root,
      ev.filter(col("event_id") % 6 === 0).limit(10), cfg, Seq("event_id"))
    assert(LakeTable.partCount(root, snap + 1) === 2)
    graft.util.Scratch.rmNow(root)
  }

  test("deletion vectors: O(files)-bytes payload, both read paths, fold, changelog") {
    val root = graft.util.Scratch.dir("graft_dv_spec_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 512)
    LakeTable.commit(spark, root, ev, cfg, Seq("event_id"))
    val nFiles = LakeTable.manifest(root, 1).files.size
    val nRows = ev.count()
    // delete HALF the table by coordinates — a row-proportional
    // payload would be ~nRows/2 coordinate rows; the dv payload must
    // stay file-count-bounded
    val targets = LakeTable.withRowCoords(spark, root)
      .filter(col("event_id") % 2 === 0)
      .select(col(LakeTable.CoordPath), col(LakeTable.CoordIdx))
    val nDeleted = targets.count()
    LakeTable.deletePositionsDv(spark, root, targets)
    val m = LakeTable.manifest(root, 2)
    val dvEntry = m.deletes.find(_.kind == "dv").get
    assert(dvEntry.rows === nDeleted)
    val payloadBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(new java.net.URI(dvEntry.path).getPath))
    // bound: per file ≤ ceil(rowsPerFile/8) bitmap bytes, ×4/3 base64,
    // + path/JSON overhead ≪ 512 bytes/file. NOT proportional to the
    // ~nRows/2 deleted rows (≥8 bytes each as coordinates).
    assert(payloadBytes < nFiles * 1024L,
      s"dv payload $payloadBytes bytes exceeds O(files) bound (${nFiles} files)")
    assert(payloadBytes < nDeleted * 8,
      s"dv payload $payloadBytes not smaller than row-proportional coords")
    // library read path
    val expect = ev.filter(col("event_id") % 2 === 1)
    val got = LakeTable.read(spark, root)
    assert(got.count() === nRows - nDeleted)
    assert(got.exceptAll(expect).count() === 0L && expect.exceptAll(got).count() === 0L)
    // DSv2 format read applies the vectors identically
    val fmt = spark.read.format("graft-lake").load(root)
    assert(fmt.count() === nRows - nDeleted)
    assert(fmt.exceptAll(expect).count() === 0L)
    // changelog attributes the dv snapshot's pre-images
    val cl = LakeTable.changelogRead(spark, root, 1, 2)
    assert(cl.filter(col("_change_type") === "delete").count() === nDeleted)
    // foldDeletes folds the vectors in; the rewritten head carries none
    LakeTable.foldDeletes(spark, root, cfg, Seq("event_id"))
    val m3 = LakeTable.manifest(root, 3)
    assert(m3.deletes.isEmpty)
    val folded = LakeTable.read(spark, root)
    assert(folded.count() === nRows - nDeleted)
    assert(folded.exceptAll(expect).count() === 0L)
    graft.util.Scratch.rmNow(root)
  }

  test("rewrite_manifests drops dead delete entries the sequence rule already retired") {
    val root = graft.util.Scratch.dir("graft_mfc_dead_")
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
    val cfg = BlockWriter.Config("user_id", "ts", maxRecordsPerFile = 4096)
    LakeTable.commit(spark, root, ev.filter(col("event_id") % 2 === 0), cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_id",
      ev.filter(col("event_id") % 4 === 0).select(col("event_id")))
    // a rewrite folds the mask into the data files, but the manifest
    // of the rewrite commit is fresh — land another delete AFTER so
    // the consolidated head has one LIVE delete and the fold's debt
    val folded = LakeTable.foldDeletes(spark, root, cfg, Seq("event_id"))
    LakeTable.deleteWhere(spark, root, "event_id",
      ev.filter(col("event_id") % 10 === 2).select(col("event_id")))
    val expect = LakeTable.read(spark, root).collect().toSet
    val snap = LakeTable.rewriteManifests(root)
    val m = LakeTable.manifest(root, snap)
    // the live equality delete survives; every data file postdating
    // the fold means no DEAD entries remain to drop here — but the
    // delete payload of the pre-fold commit must NOT reappear
    assert(m.deletes.forall(d => m.files.exists(_.seq < d.seq)),
      "consolidated manifest may carry only deletes that mask a live file")
    assert(LakeTable.read(spark, root).collect().toSet === expect)
    assert(folded > 0)
    graft.util.Scratch.rmNow(root)
  }

  test("ANALYZE is incremental: re-analyze after an append sketches only the new files") {
    val root = graft.util.Scratch.dir("graft_an_spec_")
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val cfg = BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 64)
    LakeTable.commit(spark, root, docs.filter(col("doc_id") % 2 === 0), cfg, Seq("doc_id"))
    val (snap1, n1) = LakeTable.analyze(spark, root)
    val gen1Files = LakeTable.manifest(root, 1).files.size
    assert(snap1 === 1 && n1 === gen1Files && n1 > 0)
    val meta1 = LakeTable.colStats(root).get
    // append a second generation; re-analyze must sketch ONLY it
    LakeTable.commit(spark, root, docs.filter(col("doc_id") % 2 === 1), cfg, Seq("doc_id"))
    val gen2Files = LakeTable.manifest(root, 2).files.size - gen1Files
    val (snap2, n2) = LakeTable.analyze(spark, root)
    assert(snap2 === 2 && n2 === gen2Files,
      s"re-analyze sketched $n2 files, expected only the $gen2Files new ones")
    val meta2 = LakeTable.colStats(root).get
    // gen-1 sketches are byte-identical (immutable files, immutable sketches)
    meta1.files.foreach { case (p, fs) =>
      assert(meta2.files(p).cols("doc_id").bitsHex === fs.cols("doc_id").bitsHex)
    }
    // a third run with nothing new is a no-op
    assert(LakeTable.analyze(spark, root)._2 === 0)
    // merged whole-table stats match exact ground truth
    val merged = LakeTable.mergedColStats(meta2,
      LakeTable.manifest(root, 2).files.map(_.path)).get
    val (occ, nulls, _, rows) = merged("lang")
    assert(rows === docs.count() && nulls === 0L)
    // 5 distinct langs → exactly 5 occupied buckets (far from saturation)
    assert(occ === docs.select(col("lang")).distinct().count().toInt)
    assert(LakeTable.ndvEstimate(occ) === occ.toLong) // linear regime: est ≈ exact
    graft.util.Scratch.rmNow(root)
  }

  test("NDV sketch headroom: bounded error at 150k distincts per file, saturation is a verdict not a guess") {
    val s = spark
    import s.implicits._
    // the table lives INSIDE the catalog root (a table IS its
    // directory — the stateless-catalog law), so `t.stats` serves it
    // by name at the end
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val nm = s"ndvbig_${System.nanoTime()}"
    val root = graftCatRoot.resolve("q").resolve(nm).toString
    val n = 150000L
    // ONE data file, 150k distinct keys — two orders of magnitude past
    // the old 1024-bucket saturation point
    val big = s.range(n).select(
      (col("id") * 7919L + 13L).as("k"),   // distinct-preserving affine map
      (col("id") % 10).as("grp"))
    // parallelism pinned: concurrent suites flip the session's
    // shuffle-partitions conf, and the law here needs ONE file
    LakeTable.commit(s, root, big,
      BlockWriter.Config("grp", "k", maxRecordsPerFile = 400000,
        parallelism = Some(1)), Seq("k"))
    assert(LakeTable.manifest(root, 1).files.size === 1)
    LakeTable.analyze(s, root)
    val meta = LakeTable.colStats(root).get
    assert(meta.buckets === LakeTable.NdvBuckets)
    val merged = LakeTable.mergedColStats(meta,
      LakeTable.manifest(root, 1).files.map(_.path)).get
    val (occ, _, _, _) = merged("k")
    val est = LakeTable.ndvEstimate(occ, meta.buckets)
    // linear counting at m=65536, n=150k: std error ~0.6%; gate at 5%
    assert(!LakeTable.ndvSaturated(occ, meta.buckets),
      s"150k distincts must not saturate a ${meta.buckets}-bucket sketch (occ=$occ)")
    assert(math.abs(est - n) <= n / 20,
      s"NDV estimate $est outside 5% of true $n (occ=$occ/${meta.buckets})")
    // the low-cardinality column stays cheap AND exact
    assert(LakeTable.ndvEstimate(merged("grp")._1, meta.buckets) === 10L)

    // saturation: the estimator returns the bucket count as an
    // explicit floor, and the verdict flags it — never a fabricated
    // cardinality above the sketch's resolving power
    assert(LakeTable.ndvEstimate(meta.buckets, meta.buckets) === meta.buckets.toLong)
    assert(LakeTable.ndvSaturated(meta.buckets, meta.buckets))
    assert(!LakeTable.ndvSaturated(meta.buckets - 1, meta.buckets))

    // t.stats surfaces the sketch kind and the verdict per column
    val st = s.sql(s"SELECT col, ndv_est, ndv_saturated, sketch FROM graft.q.$nm.stats")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2), r.getString(3))))
      .toMap
    assert(st("k")._1 === est && !st("k")._2)
    assert(st("k")._3 === s"linear_counting_${LakeTable.NdvBuckets}")
    graft.util.Scratch.rmNow(root)
  }
}

/** TBLPROPERTIES auto-maintenance: unattended small-file + metadata
  * hygiene (graft.autocompact.files / graft.automanifest.parts),
  * firing post-commit, best-effort, CAS-safe.
  */
class AutoMaintainSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._
  import graft.lake.{AutoMaintain, LakeTable}
  import graft.writer.BlockWriter

  test("a loop of small appends keeps file and part counts bounded with zero manual CALLs") {
    val s = spark
    import s.implicits._
    val root = graft.util.Scratch.dir("graft_autom_")
    AutoMaintain.setPolicy(root, AutoMaintain.AutoCompactKey, 10L)
    AutoMaintain.setPolicy(root, AutoMaintain.AutoManifestKey, 4L)
    val cfg = BlockWriter.Config("grp", "id", maxRecordsPerFile = 4,
      parallelism = Some(2))
    // 14 tiny appends — the stream-cadence failure mode; NO manual
    // compact/rewrite_manifests calls anywhere in this test
    (0 until 14).foreach { i =>
      LakeTable.commit(s, root,
        (0L until 8L).map(j => (i * 8L + j, j % 2, s"v$i-$j")).toDF("id", "grp", "name"),
        cfg, Seq("id"))
    }
    val head = LakeTable.currentSnapshot(root)
    val m = LakeTable.manifest(root, head)
    // bounded: without maintenance this layout accumulates ~28 files
    // and a 14-part chain; the policies must have held both down
    assert(m.files.size <= 12,
      s"autocompact should bound live files, got ${m.files.size}")
    assert(LakeTable.partCount(root, head) <= 4,
      s"automanifest should bound the part chain, got ${LakeTable.partCount(root, head)}")
    val (nCompact, nManifest) = AutoMaintain.firedCounts(root)
    assert(nCompact >= 1, "autocompact never fired")
    assert(nManifest >= 1, "automanifest never fired")
    // content is exactly the union of every append — maintenance
    // rewrote layout, never data
    assert(LakeTable.read(s, root).count() === 14L * 8L)
    assert(LakeTable.read(s, root).agg(sum(col("id"))).first().getLong(0)
      === (0L until 14L * 8L).sum)
    // maintenance commits are replace-type: history is preserved and
    // pre-compaction snapshots still read
    assert(LakeTable.read(s, root, Some(1)).count() === 8L)
    graft.util.Scratch.rmNow(root)
  }

  test("graft.autoexpire.keep bounds snapshot history post-commit; tag-pinned snapshots and their files survive") {
    val s = spark
    import s.implicits._
    val root = graft.util.Scratch.dir("graft_autoexp_")
    AutoMaintain.setPolicy(root, AutoMaintain.AutoExpireKey, 3L)
    val cfg = BlockWriter.Config("grp", "id", maxRecordsPerFile = 64,
      parallelism = Some(1))
    def manifestOnDisk(i: Int) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "meta", s"manifest-$i.json"))
    (0 until 10).foreach { i =>
      LakeTable.commit(s, root,
        (0L until 4L).map(j => (i * 4L + j, j % 2, s"v$i-$j")).toDF("id", "grp", "name"),
        cfg, Seq("id"))
      // pin snapshot 2 right after it lands
      if (i == 1) LakeTable.tag(root, "pin", 2)
    }
    val head = LakeTable.currentSnapshot(root)
    assert(head === 10)
    // bounded history: the last 3 plus the pin survive, nothing else
    val survivors = (1 to head).filter(manifestOnDisk)
    assert(survivors === Seq(2, 8, 9, 10),
      s"retention should keep the pin + last 3, got $survivors")
    // the pinned snapshot still READS with its commit-time content
    // (its data files were retention-pinned along with the manifest)
    assert(LakeTable.read(s, root, Some(2)).count() === 8L)
    // untagged expired snapshots are unreadable by design
    intercept[Exception](LakeTable.read(s, root, Some(3)).count())
    // the live view is never touched by retention
    assert(LakeTable.read(s, root).count() === 40L)
    // dropping the tag releases the pin on the NEXT commit's pass
    LakeTable.dropTag(root, "pin")
    LakeTable.commit(s, root,
      Seq((1000L, 0L, "z")).toDF("id", "grp", "name"), cfg, Seq("id"))
    assert(!manifestOnDisk(2), "released pin should be reclaimed")
    assert(LakeTable.read(s, root).count() === 41L)
    graft.util.Scratch.rmNow(root)
  }

  test("policies declare via TBLPROPERTIES (CREATE + ALTER), unset via UNSET") {
    val s = spark
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("sqlcat").toString)
    val nm = s"autom_${System.nanoTime()}"
    s.sql(s"""CREATE TABLE graft.q.$nm (id BIGINT, grp BIGINT, name STRING)
             |TBLPROPERTIES('graft.autocompact.files' = '6')""".stripMargin)
    val cat = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val dir = cat.tableDir(s"q.$nm")
    assert(AutoMaintain.policies(dir) ===
      Map(AutoMaintain.AutoCompactKey -> 6L))
    s.sql(s"ALTER TABLE graft.q.$nm SET TBLPROPERTIES('graft.automanifest.parts' = '4')")
    assert(AutoMaintain.policies(dir) === Map(
      AutoMaintain.AutoCompactKey -> 6L, AutoMaintain.AutoManifestKey -> 4L))
    // the SQL write path fires the policies too: 9 small INSERTs stay
    // bounded without any CALL
    (0 until 9).foreach { i =>
      s.sql(s"INSERT INTO graft.q.$nm VALUES ($i, ${i % 2}, 'x$i')")
    }
    val head = LakeTable.currentSnapshot(dir)
    assert(LakeTable.partCount(dir, head) <= 4)
    assert(LakeTable.manifest(dir, head).files.size <= 7)
    assert(s.table(s"graft.q.$nm").count() === 9L)
    s.sql(s"ALTER TABLE graft.q.$nm UNSET TBLPROPERTIES('graft.automanifest.parts')")
    assert(AutoMaintain.policies(dir) === Map(AutoMaintain.AutoCompactKey -> 6L))
    // non-policy, non-check properties still reject loudly
    val thrown = intercept[Exception] {
      s.sql(s"ALTER TABLE graft.q.$nm SET TBLPROPERTIES('graft.bogus' = '1')")
    }
    assert(thrown.getMessage.contains("not settable") ||
      Option(thrown.getCause).exists(_.getMessage.contains("not settable")))
    s.sql(s"DROP TABLE graft.q.$nm")
  }
}
