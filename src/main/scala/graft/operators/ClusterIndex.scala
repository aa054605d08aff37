package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.writer.BlockWriter

/** The MATERIALIZED near-dup CLUSTER-LABEL artifact — connected
  * components over the MinHash near-dup pair graph, persisted as a
  * manifest-tracked [[LakeTable]] of `(doc_id, cluster_id)` instead
  * of recomputed inside every consumer query.
  *
  * The labels are a corpus artifact exactly like the MinHash
  * signature/band index ([[MinhashIndex]]) and the IVF codebook
  * ([[IvfIndex]]): the label-propagation fixpoint (iterative
  * shuffle-joins to convergence) runs ONCE per corpus, and every
  * consumer — `dedup_clusters` (the component listing itself),
  * `split_leakage` (cluster-wise train/val/test hashing), retention
  * policies, canonical-document picks — probes the committed table.
  * At 100 TB this is the production shape: a dedup service maintains
  * the component labels next to the signature index and updates them
  * incrementally; queries never re-run the fixpoint.
  *
  * Determinism: propagation is min-label over an md5-derived pair
  * graph, so the converged labels are partition-order-independent and
  * the DuckDB oracles replay them by unrolling the same propagation —
  * materialization changes WHERE the fixpoint runs, never its values.
  */
object ClusterIndex {

  private val roots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val buildLock = new Object

  private def rootFor(dir: String): String =
    roots.computeIfAbsent(dir, _ => graft.util.Scratch.dir("graft_ccidx_"))

  /** Iterative min-label propagation to fixpoint: each round every
    * node takes the min label in its neighborhood; fixpoint =
    * connected components. Each round is one shuffle-join; rounds ≤
    * graph diameter. This is the standard distributed CC shape
    * (GraphX/GraphFrames) — no driver state beyond the convergence
    * counter.
    */
  def propagate(pairs0: DataFrame): DataFrame = {
    val pairs = graft.util.QueryScratch.cached(pairs0.select("doc_a", "doc_b"))
    // adjacency with self-loops, both directions
    val adj = graft.util.QueryScratch.cached(
      pairs.select(col("doc_a").as("node"), col("doc_b").as("nbr"))
        .union(pairs.select(col("doc_b").as("node"), col("doc_a").as("nbr")))
        .union(pairs.select(col("doc_a").as("node"), col("doc_a").as("nbr")))
        .union(pairs.select(col("doc_b").as("node"), col("doc_b").as("nbr")))
        .distinct())
    // Convergence check rides on monotonicity: every node's label is
    // min over a neighborhood that includes itself (self-loops), so
    // labels never increase and Σlabel strictly decreases until the
    // fixpoint — one scalar aggregate per check, no per-round diff
    // join. TWO propagation rounds run per check: fixed per-job
    // overhead (scheduling, not data) dominates each round at small
    // scale, so halving the action count halves the dominant cost;
    // the price is at most one redundant round after the fixpoint.
    // Decimal sum: overflow-proof at any node count.
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("label").cast("decimal(38,0)"))).first().getDecimal(0)
    def step(l: DataFrame): DataFrame =
      adj.join(l.withColumnRenamed("node", "nbr"), "nbr")
        .groupBy(col("node")).agg(min(col("label")).as("label"))
    // initial labels stay lazy (referenced once by the first check's
    // chain); the first labelSum seeds the convergence baseline, so no
    // separate init action runs.
    var labels = adj.groupBy(col("node")).agg(min(col("nbr")).as("label"))
    var prevCached: DataFrame = null
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var checks = 0
    while (!converged && checks < 25) {
      val propagated = step(step(labels)).cache()
      // periodic lineage truncation: each round's plan references the
      // previous round's, so long chains (big diameters) would make
      // planning itself the bottleneck. localCheckpoint is EAGER, so
      // the pre-checkpoint cache can be dropped immediately — holding
      // only `next` would leak the cached pre-checkpoint frame until
      // session cache-clear.
      val next =
        if (checks % 4 == 3) {
          val cp = propagated.localCheckpoint()
          propagated.unpersist()
          cp
        } else propagated
      val s = labelSum(next)
      if (prevCached != null) prevCached.unpersist()
      prevCached = next
      labels = next
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      checks += 1
    }
    graft.util.QueryScratch.register(labels)
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Ensure the committed label table exists — the "offline
    * clustering job". `pairs` is only evaluated when the artifact is
    * absent (by-name: a committed index never re-runs the pair
    * generator or the fixpoint). Idempotent, session-memoized.
    */
  def ensure(s: SparkSession, dir: String, pairs: => DataFrame): String =
    buildLock.synchronized {
      val root = rootFor(dir)
      if (LakeTable.currentSnapshot(root) < 1) {
        val labels = propagate(pairs)
        val cfg = BlockWriter.Config("doc_id", "doc_id",
          maxRecordsPerFile = 1 << 20, parallelism = Some(4))
        LakeTable.commit(s, root, labels, cfg, Seq("doc_id"))
      }
      root
    }

  /** Converged `(doc_id, cluster_id)` — parquet-backed, no recompute;
    * only nodes that appear in the pair graph (singletons are their
    * own cluster by convention at the consumer, `coalesce(cluster_id,
    * doc_id)`).
    */
  def labels(s: SparkSession, dir: String, pairs: => DataFrame): DataFrame =
    LakeTable.read(s, ensure(s, dir, pairs))

  // ---------------- incremental maintenance ----------------
  //
  // PROBE-THEN-MERGE: appending a batch must not re-run the fixpoint
  // over the corpus-scale pair graph. The quotient-graph argument
  // makes the cheap path exact: contracting every already-labeled
  // node to its component label preserves connectivity, so running
  // the SAME min-label propagation on the CONTRACTED graph — nodes =
  // batch docs + the touched component labels + newly-paired corpus
  // docs, O(batch + collisions), never O(corpus) — yields exactly the
  // components a full rebuild over (corpus ∪ batch) pairs would
  // (labels are component-min doc ids, and the contracted min equals
  // the full min because each label IS its component's min). The
  // label table then updates by ONE MoR upsert touching only changed
  // rows: a batch doc bridging two old clusters relabels those
  // clusters' rows, everything else is untouched — at 100 TB a batch
  // touching 0.01% of clusters costs 0.01%.

  private val incrRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def incrRootFor(dir: String): String =
    incrRoots.computeIfAbsent(dir, _ => graft.util.Scratch.dir("graft_ccincr_"))

  private def incrCfg = BlockWriter.Config("doc_id", "doc_id",
    maxRecordsPerFile = 1 << 20, parallelism = Some(4))

  /** Build the standing-corpus label table (the one-time offline
    * fixpoint over corpus-only pairs). Idempotent.
    */
  def ensureCorpusLabels(s: SparkSession, dir: String, pairs: => DataFrame): String =
    buildLock.synchronized {
      val root = incrRootFor(dir)
      if (LakeTable.currentSnapshot(root) < 1)
        LakeTable.commit(s, root, propagate(pairs), incrCfg, Seq("doc_id"))
      root
    }

  /** Append a batch: `pairs` is every near-dup pair INVOLVING a batch
    * doc (batch↔corpus from the asymmetric band-index probe,
    * batch↔batch from the batch's self-join). Returns (table root,
    * contracted-graph node count, upserted row count) — the node
    * count is the spec's structural pin that propagation ran on the
    * contraction, not the corpus.
    */
  def appendBatch(s: SparkSession, dir: String, pairs0: DataFrame): (String, Long, Long) =
    buildLock.synchronized {
      val root = incrRootFor(dir)
      require(LakeTable.currentSnapshot(root) >= 1,
        s"cluster append: no corpus labels for $dir — run ensureCorpusLabels first")
      val labels0 = graft.util.QueryScratch.cached(LakeTable.read(s, root))
      val l = labels0.select(col("doc_id").as("d"), col("cluster_id").as("lab"))
      // contract every endpoint to its current component label
      // (identity for batch docs and never-paired corpus docs)
      val contracted = graft.util.QueryScratch.cached(
        pairs0.select("doc_a", "doc_b")
          .join(l.withColumnRenamed("d", "doc_a").withColumnRenamed("lab", "la"),
            Seq("doc_a"), "left")
          .join(l.withColumnRenamed("d", "doc_b").withColumnRenamed("lab", "lb"),
            Seq("doc_b"), "left")
          .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
            coalesce(col("lb"), col("doc_b")).as("doc_b"))
          .filter(col("doc_a") =!= col("doc_b")))
      val nNodes = contracted
        .select(explode(array(col("doc_a"), col("doc_b"))).as("n"))
        .distinct().count()
      if (nNodes == 0) return (root, 0L, 0L)
      val merged = graft.util.QueryScratch.cached(propagate(contracted))
      // rows to upsert: (a) every doc of a RELABELED old component —
      // a contracted node that is an old label and moved;
      val remap = merged
        .select(col("doc_id").as("old_lab"), col("cluster_id").as("new_lab"))
        .filter(col("old_lab") =!= col("new_lab"))
      val changed = labels0.join(remap, labels0("cluster_id") === col("old_lab"))
        .select(labels0("doc_id"), col("new_lab").as("cluster_id"))
      // (b) first-time nodes: batch docs and newly-paired corpus docs
      val fresh = merged.join(labels0.select(col("doc_id")), Seq("doc_id"), "left_anti")
      // align nullability to the MANIFEST schema (joins mark both
      // sides nullable; the merge validator is strict by design)
      val mSchema = LakeTable.manifest(root, LakeTable.currentSnapshot(root)).schema
        .getOrElse(labels0.schema)
      val upserts = s.createDataFrame(
        changed.unionByName(fresh).toDF(mSchema.fieldNames.toIndexedSeq: _*).rdd,
        mSchema)
      val nUp = upserts.count()
      // one atomic MoR merge: new label rows + an equality delete of
      // the superseded keys — O(changed), the table never rewrites
      if (nUp > 0) LakeTable.merge(s, root, "doc_id", upserts, incrCfg, Seq("doc_id"))
      (root, nNodes, nUp)
    }
}
