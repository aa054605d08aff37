package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.lake.LakeTable
import graft.writer.BlockWriter

/** The MATERIALIZED MinHash signature/band index — the near-dup
  * pipeline's shared artifact, persisted as two manifest-tracked
  * [[LakeTable]]s instead of recomputed inside every consumer query:
  *
  *  - `<root>/base`  : (doc_id, whs)       — per-doc 60-bit hashed
  *    shingle SETS (signature input and exact-Jaccard verify input)
  *  - `<root>/bands` : (doc_id, band, bk)  — LSH band keys
  *
  * Commit 1 of both tables holds the EXISTING CORPUS (everything but
  * the incoming batch); commit 2 appends the batch partition — the
  * continuous-ingest lifecycle: an offline job indexes the corpus
  * once, each incoming batch probes that index and is appended as one
  * atomic commit. Five queries consume the artifact (dedup_minhash /
  * dedup_incremental / dedup_retention / dedup_clusters / graph_rank);
  * the signature map-pass runs ONCE per session instead of five
  * times, and at 100 TB the index is exactly the table a production
  * dedup service maintains (Lee et al., "Deduplicating Training Data
  * Makes Language Models Better" — the persisted-signature design).
  *
  * Determinism: all hashing is md5-derived ([[Dedup]]), so the DuckDB
  * oracles replay the identical arithmetic from the raw documents
  * table — materialization changes WHERE the signatures are computed,
  * never their values.
  */
object MinhashIndex {

  /** Signature geometry (shared with the SQL oracle generators). */
  val HASHES = 12
  val BANDS = 4
  val ROWS = 3 // BANDS * ROWS == HASHES

  /** The incoming-batch membership predicate (stands in for "today's
    * crawl" against the rest-of-corpus; dedup_incremental's framing).
    */
  def batchPred: Column = col("doc_id") % 10 === 0

  final case class Ref(root: String) {
    def basePath: String = s"$root/base"
    def bandsPath: String = s"$root/bands"
  }

  // ---------------- map-side computation (one pass each) ----------------

  /** documents → (doc_id, whs): distinct 3-word shingles hashed to 60
    * bits, the strings dropped map-side (Broder shingle hashing).
    */
  def baseOf(docs: DataFrame): DataFrame =
    Dedup.withShingles(docs, "text", 3, distinct = true, Seq("doc_id"), "sh")
      .select(col("doc_id"),
        array_distinct(transform(col("sh"), g => TextFns.hash60(g))).as("whs"))

  /** (doc_id, whs) → (doc_id, band, bk): the affine-rehash signature
    * pass + banding, pure map-side expressions.
    */
  def bandsOf(base: DataFrame): DataFrame =
    bandArrayOf(base)
      .select(col("doc_id"), explode(col("bands")).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bk").as("bk"))

  /** (doc_id, whs) → (doc_id, whs, bands): each document's
    * [[bandsOf]] rows as one `array<struct<band, bk>>` beside its
    * shingle set — one row per document, for callers that collect a
    * batch's signatures in a single pass.
    */
  def bandArrayOf(base: DataFrame): DataFrame = {
    val sigs = base.select(
      Seq(col("doc_id"), col("whs")) ++
        (0 until HASHES).map(i => Dedup.minhashSig(col("whs"), i).as(s"s$i")): _*)
    val bandStructs = (0 until BANDS).map(b =>
      struct(lit(b).as("band"), Dedup.bandKey(b, ROWS).as("bk")))
    sigs.select(col("doc_id"), col("whs"), array(bandStructs: _*).as("bands"))
  }

  // ---------------- artifact lifecycle ----------------

  private val refs = new java.util.concurrent.ConcurrentHashMap[String, Ref]()
  private val buildLock = new Object

  private def refFor(dir: String): Ref =
    refs.computeIfAbsent(dir, _ => Ref(graft.util.Scratch.dir("graft_mhidx_")))

  /** Index write fan-out derived from the INPUT volume (no extra
    * job): one write partition per ~8 MB of source text, floored at 4
    * and capped at the session's shuffle parallelism — at sf0.1 this
    * writes a handful of right-sized files instead of 32 shards of a
    * few KB; at 100 TB the cap restores full cluster parallelism.
    */
  private def idxParallelism(s: SparkSession, dir: String): Int = {
    val bytes =
      try java.nio.file.Files.size(java.nio.file.Paths.get(dir, "documents.parquet"))
      catch { case _: Exception => Long.MaxValue }
    val cap = s.sessionState.conf.numShufflePartitions
    math.min(cap.toLong, math.max(4L, bytes / (8L << 20))).toInt
  }

  private def cfg(s: SparkSession, dir: String) =
    BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 1 << 20,
      parallelism = Some(idxParallelism(s, dir)))

  /** Files added to `table` by snapshot `snap` only (not inherited). */
  private def newFiles(s: SparkSession, table: String, snap: Int): DataFrame = {
    val paths = LakeTable.manifest(table, snap).files
      .filter(_.seq == snap).map(_.path)
    s.read.parquet(paths: _*)
  }

  /** Ensure commit 1 (the corpus partition) of both tables exists —
    * the "offline indexing job". Idempotent, session-memoized.
    */
  def ensureCorpus(s: SparkSession, dir: String): Ref = buildLock.synchronized {
    val ref = refFor(dir)
    if (LakeTable.currentSnapshot(ref.basePath) < 1) {
      val c = cfg(s, dir)
      val corpus = graft.sources.Tables.load(s, dir, "documents").filter(!batchPred)
      LakeTable.commit(s, ref.basePath, baseOf(corpus), c, Seq("doc_id"))
      // signatures derive from the PERSISTED base read-back — the
      // shingle/hash pass is not repeated
      LakeTable.commit(s, ref.bandsPath,
        bandsOf(newFiles(s, ref.basePath, 1)), c, Seq("doc_id"))
    }
    ref
  }

  /** Ensure commit 2 (the batch partition appended) exists — the
    * per-batch index maintenance job. Idempotent, session-memoized.
    */
  def ensureFull(s: SparkSession, dir: String): Ref = buildLock.synchronized {
    val ref = ensureCorpus(s, dir)
    if (LakeTable.currentSnapshot(ref.basePath) < 2) {
      val c = cfg(s, dir)
      val batch = graft.sources.Tables.load(s, dir, "documents").filter(batchPred)
      LakeTable.commit(s, ref.basePath, baseOf(batch), c, Seq("doc_id"))
      LakeTable.commit(s, ref.bandsPath,
        bandsOf(newFiles(s, ref.basePath, 2)), c, Seq("doc_id"))
    }
    ref
  }

  // ---------------- readers ----------------

  /** Full-corpus (doc_id, whs) — parquet-backed, no recompute. */
  def fullBase(s: SparkSession, dir: String): DataFrame =
    LakeTable.read(s, ensureFull(s, dir).basePath)

  /** Full-corpus (doc_id, band, bk) — parquet-backed, no recompute. */
  def fullBands(s: SparkSession, dir: String): DataFrame =
    LakeTable.read(s, ensureFull(s, dir).bandsPath)

  /** Corpus-only partition (snapshot 1) — what an incoming batch
    * probes; never includes the batch itself.
    */
  def corpusBase(s: SparkSession, dir: String): DataFrame =
    LakeTable.read(s, ensureCorpus(s, dir).basePath, Some(1))

  def corpusBands(s: SparkSession, dir: String): DataFrame =
    LakeTable.read(s, ensureCorpus(s, dir).bandsPath, Some(1))
}
