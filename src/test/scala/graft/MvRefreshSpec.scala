package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{AutoMaintain, BitmapDistinctMv, DistinctMv, HllDistinctMv,
  LakeTable, SketchStateMv}
import graft.writer.BlockWriter

/** Refresh-mode coverage of the state-backed distinct MVs: the
  * over-cap `full` fallback, recovery from a crash between the state
  * commit and the visible commit, and the Spark job budget of each
  * sketch refresh mode.
  */
object MvRefreshSpec {
  /** One state-backed distinct kind, as these specs drive it: create
    * and refresh over (fact root, MV root), and its state root.
    */
  final case class Kind(name: String,
      create: (String, String) => Unit, refresh: (String, String) => Unit,
      stateRoot: String => String)
}

class MvRefreshSpec extends AnyFunSuite {
  import TestSpark._
  import MvRefreshSpec.Kind

  private val fCfg = BlockWriter.Config("g", "id", maxRecordsPerFile = 512)
  private val mCfg = BlockWriter.Config("g", "g", maxRecordsPerFile = 512)

  private val bitmap = Kind("bitmap",
    (fact, mv) => SketchStateMv.create(spark, BitmapDistinctMv(1024L), fact,
      mv, Seq("g"), "uid", "uniq", mCfg): Unit,
    (fact, mv) => SketchStateMv.refresh(spark, BitmapDistinctMv(1024L), fact,
      mv, Seq("g"), "uid", "uniq", mCfg): Unit,
    BitmapDistinctMv.stateRoot)
  private val hll = Kind("hll",
    (fact, mv) => SketchStateMv.create(spark, HllDistinctMv(10), fact, mv,
      Seq("g"), "uid", "uniq", mCfg): Unit,
    (fact, mv) => SketchStateMv.refresh(spark, HllDistinctMv(10), fact, mv,
      Seq("g"), "uid", "uniq", mCfg): Unit,
    HllDistinctMv.stateRoot)
  private val exact = Kind("exact",
    (fact, mv) => DistinctMv.create(spark, fact, mv, Seq("g"), "uid", "uniq",
      mCfg): Unit,
    (fact, mv) => DistinctMv.refresh(spark, fact, mv, Seq("g"), "uid", "uniq",
      mCfg): Unit,
    mv => DistinctMv.stateRoot(mv))

  /** Fact rows `ids` spread over `groups` groups, uids in [0, 1024). */
  private def rows(ids: Seq[Long], groups: Int) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"k${i % groups}", (i * 7L) % 1024L)).toDF("id", "g", "uid")
  }

  private def append(fact: String, ids: Seq[Long], groups: Int): Unit =
    LakeTable.commit(spark, fact, rows(ids, groups), fCfg, Seq("id", "g")): Unit

  private def delete(fact: String, ids: Long*): Unit = {
    val s = spark
    import s.implicits._
    LakeTable.deleteWhere(spark, fact, "id", ids.toDF("id")): Unit
  }

  /** A fact table of `groups` groups holding 200 rows each, and an MV
    * of kind `k` created over it.
    */
  private def fixture(k: Kind, prefix: String, groups: Int): (String, String) = {
    val fact = graft.util.Scratch.dir(s"${prefix}fact_${k.name}_")
    val mv = graft.util.Scratch.dir(s"${prefix}mv_${k.name}_")
    append(fact, 0L until groups * 200L, groups)
    k.create(fact, mv)
    (fact, mv)
  }

  private def view(mv: String): Set[(String, Long, Long)] =
    LakeTable.read(spark, mv).collect().map(r => (r.getAs[String]("g"),
      r.getAs[Long]("n"), r.getAs[Long]("uniq"))).toSet

  private def assertSameAsCreate(k: Kind, fact: String, mv: String): Unit = {
    val fresh = graft.util.Scratch.dir(s"graft_mvr_fresh_${k.name}_")
    k.create(fact, fresh)
    assert(view(mv) === view(fresh),
      s"${k.name}: the refreshed view must equal a fresh create")
  }

  test("sketch MV over-cap refresh: deletes in more groups than graft.mvrefresh.maxgroups take one full state commit (bitmap, hll)") {
    Seq(bitmap, hll).foreach { k =>
      val (fact, mv) = fixture(k, "graft_mvr_cap_", groups = 3)
      AutoMaintain.setPolicy(mv, AutoMaintain.MvMaxGroupsKey, 1L)
      // ids 0, 3 are k0 and 1, 4 are k1: two touched groups, cap 1
      delete(fact, 0L, 1L, 3L, 4L)
      val st = k.stateRoot(mv)
      val stSnap = LakeTable.currentSnapshot(st)
      k.refresh(fact, mv)
      assert(DistinctMv.mode(mv) === "full", k.name)
      assert(LakeTable.currentSnapshot(st) === stSnap + 1,
        s"${k.name}: the over-cap fallback lands exactly one state commit")
      assert(DistinctMv.basis(mv) === LakeTable.currentSnapshot(fact))
      assertSameAsCreate(k, fact, mv)
    }
  }

  test("distinct MV crash between the state and visible commits: the next refresh re-derives the view from state with no state commit (bitmap, hll, exact)") {
    Seq(bitmap, hll, exact).foreach { k =>
      val (fact, mv) = fixture(k, "graft_mvr_crash_", groups = 2)
      append(fact, 400L until 440L, 2)
      k.refresh(fact, mv)
      val f1 = LakeTable.currentSnapshot(fact)
      // undo the visible commit only: the state stays one refresh
      // ahead of the view, as a crash between the two commits leaves it
      LakeTable.rollback(mv, LakeTable.currentSnapshot(mv) - 1)
      assert(DistinctMv.basis(mv) < f1, k.name)
      val st = k.stateRoot(mv)
      val stSnap = LakeTable.currentSnapshot(st)
      k.refresh(fact, mv)
      assert(LakeTable.currentSnapshot(st) === stSnap,
        s"${k.name}: recovery must not commit to the state")
      assert(DistinctMv.basis(mv) === f1, k.name)
      assertSameAsCreate(k, fact, mv)
    }
  }

  test("sketch MV refresh job budgets: fold, targeted and full each run a pinned number of Spark jobs (bitmap, hll)") {
    // (fold, targeted, full) Spark jobs per refresh, as measured on
    // local[4] with 4 shuffle partitions
    val budgets = Map("bitmap" -> ((13, 11, 21)), "hll" -> ((11, 9, 17)))
    val measured = Seq(bitmap, hll).map { k =>
      val (fact, mv) = fixture(k, "graft_mvr_jobs_", groups = 2)
      def refreshJobs(mode: String): Int = {
        val n = SparkJobs.during(spark)(k.refresh(fact, mv)).size
        assert(DistinctMv.mode(mv) === mode, k.name)
        n
      }
      append(fact, 400L until 440L by 2L, 2) // k0 only
      val fold = refreshJobs("fold")
      delete(fact, 0L, 2L) // k0 only
      val targeted = refreshJobs("targeted")
      AutoMaintain.setPolicy(mv, AutoMaintain.MvMaxGroupsKey, 1L)
      delete(fact, 4L, 5L) // k0 and k1: over the cap
      val full = refreshJobs("full")
      info(s"${k.name}: fold $fold, targeted $targeted, full $full jobs")
      k.name -> ((fold, targeted, full))
    }.toMap
    assert(measured === budgets)
  }
}
