package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{AutoMaintain, BitmapDistinctMv, DistinctMv, HllDistinctMv,
  LakeTable, SketchStateMv}
import graft.writer.BlockWriter

/** Refresh-mode coverage of the state-backed distinct MVs: the
  * over-cap `full` fallback, recovery from a crash between the state
  * commit and the visible commit, the bitmap domain check, and the
  * Spark job budget of each sketch refresh mode.
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

  test("sketch MV crash after a targeted or full state commit: the recovery refresh re-derives the view and t.mv reports that commit's mode (bitmap, hll)") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root",
      graft.util.Scratch.root.resolve("psdcat").toString)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.GraftCatalog]
    val laws = Seq(
      (bitmap, "distinct_kind = 'bitmap', distinct_domain = 1024"),
      (hll, "distinct_kind = 'hll', distinct_precision = 10"))
    for ((k, props) <- laws; crashed <- Seq("targeted", "full")) {
      val id = System.nanoTime()
      val fact = s"graft.psd.mvrc_f_$id"; val mv = s"graft.psd.mvrc_v_$id"
      spark.sql(s"CREATE TABLE $fact (id BIGINT, g STRING, uid BIGINT)")
      spark.sql(s"INSERT INTO $fact SELECT id, concat('k', id % 2), " +
        s"(id * 7) % 1024 FROM range(400)")
      spark.sql(s"""CREATE MATERIALIZED VIEW $mv WITH ($props) AS
                   |SELECT g, COUNT(*) AS n, COUNT(DISTINCT uid) AS uniq
                   |FROM $fact GROUP BY g""".stripMargin)
      val mvDir = cat.tableDir(s"psd.mvrc_v_$id")
      val factDir = cat.tableDir(s"psd.mvrc_f_$id")
      def mode(): String = spark.sql(s"SELECT mode FROM $mv.mv").head().getString(0)
      def refresh(): Unit =
        spark.sql(s"CALL graft.system.refresh_mv(table => 'psd.mvrc_v_$id')"): Unit
      if (crashed == "full") {
        AutoMaintain.setPolicy(mvDir, AutoMaintain.MvMaxGroupsKey, 1L)
        spark.sql(s"DELETE FROM $fact WHERE id IN (4, 5)") // k0 and k1
      } else spark.sql(s"DELETE FROM $fact WHERE id IN (0, 2)") // k0 only
      refresh()
      assert(mode() === crashed, s"${k.name}")
      // undo the visible commit only, as a crash between the state and
      // visible commits leaves it
      LakeTable.rollback(mvDir, LakeTable.currentSnapshot(mvDir) - 1)
      val st = k.stateRoot(mvDir)
      val stSnap = LakeTable.currentSnapshot(st)
      refresh()
      assert(LakeTable.currentSnapshot(st) === stSnap,
        s"${k.name} after $crashed: recovery must not commit to the state")
      assert(mode() === crashed, s"${k.name} after $crashed")
      assert(DistinctMv.basis(mvDir) === LakeTable.currentSnapshot(factDir))
      assertSameAsCreate(k, factDir, mvDir)
      spark.sql(s"DROP MATERIALIZED VIEW $mv"); spark.sql(s"DROP TABLE $fact")
    }
  }

  test("bitmap MV domain check: an out-of-domain key fails create, fold, targeted and full with the key named, and nothing commits") {
    def failsNamingKey(body: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("key 5000 outside [0, 1024)"), e.getMessage)
    }
    val s = spark
    import s.implicits._
    def badRow(id: Long, g: String) =
      Seq((id, g, 5000L)).toDF("id", "g", "uid")
    // create
    val fact0 = graft.util.Scratch.dir("graft_mvr_dom_fact0_")
    val mv0 = graft.util.Scratch.dir("graft_mvr_dom_mv0_")
    append(fact0, 0L until 40L, 2)
    LakeTable.commit(spark, fact0, badRow(900L, "k0"), fCfg, Seq("id", "g"))
    failsNamingKey(bitmap.create(fact0, mv0))
    assert(LakeTable.currentSnapshot(mv0) === 0)
    assert(LakeTable.currentSnapshot(BitmapDistinctMv.stateRoot(mv0)) === 0)
    // refresh: each mode's state job meets the key before any commit
    val (fact, mv) = fixture(bitmap, "graft_mvr_dom_", groups = 2)
    val st = BitmapDistinctMv.stateRoot(mv)
    val (mvSnap, stSnap) = (LakeTable.currentSnapshot(mv), LakeTable.currentSnapshot(st))
    def refreshFails(): Unit = {
      failsNamingKey(bitmap.refresh(fact, mv))
      assert(LakeTable.currentSnapshot(mv) === mvSnap)
      assert(LakeTable.currentSnapshot(st) === stSnap)
    }
    LakeTable.commit(spark, fact, badRow(900L, "k0"), fCfg, Seq("id", "g"))
    refreshFails() // an append-only range: fold
    delete(fact, 0L) // k0 touched by a delete: targeted
    refreshFails()
    AutoMaintain.setPolicy(mv, AutoMaintain.MvMaxGroupsKey, 1L)
    delete(fact, 1L) // k0 and k1 over the cap: full
    refreshFails()
    // with the key gone the same range refreshes
    delete(fact, 900L)
    bitmap.refresh(fact, mv)
    assert(DistinctMv.mode(mv) === "full")
    assertSameAsCreate(bitmap, fact, mv)
  }

  test("sketch MV refresh job budgets: fold, targeted and full each run a pinned number of Spark jobs (bitmap, hll)") {
    // (fold, targeted, full) Spark jobs per refresh, as measured on
    // local[4] with 4 shuffle partitions; the bitmap domain check rides
    // the state jobs, so both laws run the same jobs
    val budgets = Map("bitmap" -> ((11, 9, 11)), "hll" -> ((11, 9, 11)))
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
