package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFns

class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  test("decontaminate is a broadcast probe: no corpus-side shuffle before the flag filter") {
    val plan = SparkEntry.queries("decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    // probe side is a single-row array broadcast (nested-loop on a
    // 1-row build side); the corpus side must not hash-shuffle
    assert(plan.contains("BroadcastNestedLoopJoin"), s"probe not broadcast:\n${plan.take(1500)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 0, s"corpus side must not shuffle, found $exchanges:\n${plan.take(2000)}")
  }

  test("source_overlap_wide: the multi-word mask keeps ONE gram-grain shuffle and no gram self-join past 62 sources") {
    val df = SparkEntry.queries("source_overlap_wide")(spark, sf)
    // plan-string counting lies here (AQE renders initial+final, and
    // every InMemoryRelation reference re-renders its cached plan) —
    // assert at the OPTIMIZED LOGICAL level instead
    val opt = df.queryExecution.optimizedPlan
    // the quadratic shape joins the posting list against itself ON
    // gram — the histogram path must have no gram-keyed join anywhere
    val gramJoins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.references.exists(_.name == "gram")) => j
    }
    assert(gramJoins.isEmpty, s"gram-grain self-join found:\n$opt")
    // every gram-grain aggregation sits behind ONE shared cache (the
    // mask histogram): both downstream consumers reference the same
    // cached relation, so the gram shuffle executes exactly once
    val gramRels = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if r.cachedPlan.toString.contains("hashpartitioning(gram") => r
    }
    assert(gramRels.nonEmpty, s"gram aggregation not behind the cache:\n$opt")
    assert(gramRels.map(_.cacheBuilder).distinct.size === 1,
      "gram-grain aggregation must be ONE shared cached relation, " +
        s"found ${gramRels.map(_.cacheBuilder).distinct.size}")
    // and no gram-grain aggregate outside that cache
    val looseAggs = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.references.exists(_.name == "gram")) => a
    }
    assert(looseAggs.isEmpty,
      s"gram-grain aggregate outside the cache boundary:\n$opt")
    // >62 sources really flowed through the multi-word path
    val n = df.select(col("src_a")).unionAll(df.select(col("src_b")))
      .distinct().count()
    assert(n > 62, s"wide fixture must exceed the single-word width, got $n")
  }

  test("ann_range: broadcast probe + filter reduction — no window, no sort before the filter") {
    val df = SparkEntry.queries("ann_range")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      "range search is a filter, not a rank — no window allowed")
    // subset relation vs top-k: every ann_topk hit above the
    // threshold must appear in ann_range's result
    val range = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val topk = SparkEntry.queries("ann_topk")(spark, sf).collect()
      .filter(r => r.getLong(2) >= 3000L && r.getLong(0) < 20L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(topk.subsetOf(range),
      s"top-k hits above tau missing from range result: ${topk -- range}")
  }

  test("sample_bottomk: exact K = N/5 sample via TakeOrderedAndProject, no global sort") {
    val df = SparkEntry.queries("sample_bottomk")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k must be a per-partition heap, not a global sort:\n${plan.take(1500)}")
    val n = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(df.collect().map(_.getLong(1)).sum === n / 5,
      "sample size must be exactly N/5")
  }

  test("ann_hybrid: fused results come from the union of the two top-N lists, K per query") {
    val df = SparkEntry.queries("ann_hybrid")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // both candidate generators broadcast the query side — the corpus
    // never shuffles before candidates exist
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query sides must broadcast:\n${plan.take(1500)}")
    val rows = df.collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      assert(rs.length === 10, s"query $q returned ${rs.length} of K=10")
      // ranks are 1..K and rrf non-increasing in rank
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to 10L))
      val rrfs = sorted.map(_.getLong(2)).toSeq
      assert(rrfs === rrfs.sorted.reverse, s"rrf must be non-increasing for $q")
      // an RRF score implies membership in at least one component
      // top-20: the max single-list contribution is 1000000 div 61
      assert(rs.forall(_.getLong(2) >= 1000000L / 80L),
        "every fused candidate must carry at least one top-20 contribution")
    }
  }

  test("ann_truncated: re-ranked scores are the exact cosines; K per query, ordered") {
    // NOTE on recall: MRL prefixes are a TRAINING-time property —
    // the synthetic embeddings are not nesting-trained, so a recall
    // gate against the exact ranking would measure the fixture, not
    // the operator (measured ~4/10 here; ann_recall gates IVF/LSH
    // instead, which preserve full-dim geometry). What IS the
    // operator's contract: candidates come from the prefix scan, and
    // every returned score is the EXACT full-dim cosine.
    val rows = SparkEntry.queries("ann_truncated")(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    // exact re-rank law: a (q, n) pair returned by the truncated path
    // carries the same cos_bp the exact ranking computes for it
    val exact = SparkEntry.queries("ann_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    byQ.foreach { case (q, rs) =>
      assert(rs.length === 10)
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to 10L))
      val bps = sorted.map(_.getLong(2)).toSeq
      assert(bps === bps.sorted.reverse, s"cos_bp must be non-increasing for $q")
      rs.foreach { r =>
        exact.get((q, r.getLong(1))).foreach { e =>
          assert(e === r.getLong(2),
            s"re-ranked score for ($q, ${r.getLong(1)}) must equal the exact cosine")
        }
      }
    }
  }

  test("dedup_paragraph: chunk accounting conserves; dup chunks bounded by totals") {
    val rows = SparkEntry.queries("dedup_paragraph")(spark, sf).collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("__ws", graft.functions.TextFns.words(col("text")))
      .filter(size(col("__ws")) >= 1)
    val wantChunks = docs
      .agg(sum(ceil(size(col("__ws")) / 64.0).cast("bigint"))).head.getLong(0)
    assert(rows.map(_.getLong(2)).sum === wantChunks, "chunk totals must conserve")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))   // dups ≤ chunks
      assert(r.getLong(4) <= r.getLong(1))   // flagged docs ≤ docs
    }
  }

  test("dedup_oddsketch: banding is recall-lossless vs brute force; XOR fold = bin parity") {
    val df = SparkEntry.queries("dedup_oddsketch")(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same signatures: every pair within hamming
    // 6 must surface through the bands (pigeonhole: 5×12-bit bands)
    graft.plans.GraftExtensions.register(spark)
    val sigs = graft.operators.Dedup.withShingles(
      graft.sources.Tables.load(spark, sf, "documents"), "text", 3,
      distinct = true, Seq("doc_id"), "feats")
      .withColumn("sig", expr(
        """aggregate(transform(feats, f -> cast(pmod(graft_hash60(f), 60) as int)),
          |0L, (acc, h) -> acc ^ shiftleft(1L, h))""".stripMargin))
      .select("doc_id", "sig")
    val a = sigs.as("a"); val b = sigs.as("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("bigint").as("h"))
      .filter(col("h") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute, "banded candidates must equal the all-pairs answer")
    // the XOR fold equals per-bin parity: toggling a bit per
    // occurrence is parity by definition; the sketch-level law that
    // matters is the symmetric-difference bound — hamming ≤ |A△B|
    // (equality unless two differing shingles collide in a bin)
    got.foreach { case (_, _, h) => assert(h >= 0L && h <= 6L) }
  }

  test("stats_drift: conservation, ppm closure, non-negative chi-square terms") {
    val rows = SparkEntry.queries("stats_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    // every document is counted on exactly one side
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum === nDocs)
    // integer-floor shares close to within one ppm per source
    val sumOld = rows.map(_.getLong(3)).sum
    val sumNew = rows.map(_.getLong(4)).sum
    assert(sumOld > 1000000L - rows.length && sumOld <= 1000000L)
    assert(sumNew > 1000000L - rows.length && sumNew <= 1000000L)
    rows.foreach { r =>
      assert(r.getLong(6) >= 0L, "chi-square terms are non-negative")
      assert(r.getLong(5) >= 0L)
    }
  }

  test("sample_shuffle: one hash shuffle, no window; deterministic and conserving") {
    val q = SparkEntry.queries("sample_shuffle")
    val df = q(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the permutation key and shard are map-side; the only exchange is
    // the shard aggregation (at scale: the write shuffle to shard
    // tasks). A Window or global Sort here would be the non-scalable
    // total-order shape.
    assert(!plan.contains("Window"), "shuffle must not use a window")
    // one shard exchange + the (shard, source) exchange COUNT(DISTINCT)
    // rewrites to — both keyed and partially aggregated map-side; no
    // global sort, no single-partition stage
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected ≤2 keyed exchanges, got $exchanges:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange SinglePartition"),
      "no single-partition stage in the shuffle plan")
    val a = df.collect()
    val b = q(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "the permutation must be reproducible run-to-run")
    // conservation: every document lands in exactly one shard
    val total = a.map(_.getLong(1)).sum
    val nDocs = graft.sources.Tables.load(spark, sf, "documents").count()
    assert(total === nDocs)
    assert(a.map(_.getLong(0)).distinct.length === a.length, "one row per shard")
  }

  test("dedup_incremental broadcasts the batch bands against the corpus index") {
    val plan = SparkEntry.queries("dedup_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"batch side not broadcast:\n${plan.take(1500)}")
  }

  test("ann_topk streams the corpus once: broadcast query side, no scan shuffle") {
    val plan = SparkEntry.queries("ann_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n${plan.take(1500)}")
  }

  test("dedup_substring is a posting join: hash-keyed joins only, no cartesian product") {
    val plan = SparkEntry.queries("dedup_substring")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"substring matching must join on the gram hash, not cross:\n${plan.take(2000)}")
    // the df-cap prunes postings before the pair join
    assert(plan.contains("LeftSemi"), s"df-cap semi join missing:\n${plan.take(2000)}")
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }
}

class TextFnsSpec extends AnyFunSuite {
  import TestSpark._

  private def one(colExpr: org.apache.spark.sql.Column, text: String): Any = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text").select(colExpr.as("v")).head().get(0)
  }

  test("words splits on whitespace, drops empties") {
    assert(one(size(TextFns.words(col("text"))), "  a  b\tc \n d ") === 4)
    assert(one(size(TextFns.words(col("text"))), "") === 0)
  }

  test("bpe token count: letter runs, digit runs, single symbols") {
    assert(one(TextFns.bpeTokenCount(col("text")), "ab12 cd!") === 4) // ab|12|cd|!
  }

  test("langPredict: zh wins on CJK, und on all-zero, fixed tie order") {
    val df = {
      val s = spark
      import s.implicits._
      Seq(("x", "查询 的 数据"), ("y", "zzz qqq"), ("z", "the der le el"))
        .toDF("id", "text")
    }
    val ws = TextFns.words(col("text"))
    val out = df.select(col("id"), TextFns.langPredict(
      TextFns.stopwordHits(ws, "en").cast("bigint"),
      TextFns.stopwordHits(ws, "de").cast("bigint"),
      TextFns.stopwordHits(ws, "fr").cast("bigint"),
      TextFns.stopwordHits(ws, "es").cast("bigint"),
      TextFns.cjkCount(col("text")).cast("bigint")).as("p"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("x") === "zh")
    assert(out("y") === "und")
    assert(out("z") === "en") // 4-way tie resolves by priority order
  }

  test("fingerprint is order-sensitive") {
    val ab = one(TextFns.fingerprint(TextFns.words(col("text"))), "alpha beta")
    val ba = one(TextFns.fingerprint(TextFns.words(col("text"))), "beta alpha")
    assert(ab !== ba)
  }

  test("hash60 is non-negative and stable") {
    graft.plans.GraftExtensions.register(spark)
    val h1 = one(TextFns.hash60(col("text")), "spark").asInstanceOf[Long]
    val h2 = one(TextFns.hash60(col("text")), "spark").asInstanceOf[Long]
    assert(h1 === h2 && h1 >= 0L)
  }

  test("native hash60 equals the composed conv(substr(md5)) form") {
    graft.plans.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val strs = Seq.fill(200)(rnd.alphanumeric.take(1 + rnd.nextInt(30)).mkString)
    val diff = strs.toDF("x").select(
      TextFns.hash60(col("x")).as("native"),
      TextFns.hash60Composed(col("x")).as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(diff === 0L)
  }
}

/** Scale-shape assertions: the plans the 100 TB design depends on. */
class PipelinePlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("text ops prune the documents scan to the needed columns") {
    val p = plan("text_tokens")
    assert(p.contains("ReadSchema") && !p.contains("lang"),
      s"text_tokens should not read lang:\n${p.take(2000)}")
  }

  test("dedup candidate generation never cross-joins") {
    for (q <- Seq("dedup_minhash", "dedup_simhash", "ngram_jaccard")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q cross-joins:\n${p.take(2000)}")
    }
  }

  test("PQ geometry is a parameter: per-M frozen artifacts, array codes, idempotent append per geometry") {
    import graft.operators.{IvfIndex, PqIndex}
    import graft.queries.Advanced
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), Advanced.kmIntVec(col("embedding")).as("vi"))
    val key = sf + "#pqgeom-spec"
    val ref4 = PqIndex.ensureCorpusPq(spark, key, e, m = 4)
    assert(ref4.subDim === 16)
    // the codes table carries exactly M codes per vector, as ONE
    // array column — the bytes-per-vector payload shape
    val sizes4 = PqIndex.codes(spark, key, 4)
      .select(size(col("codes"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(sizes4 === Seq(4), s"M=4 codes must be 4-element arrays: $sizes4")
    // frozen books: M rows-groups, one per subspace
    val subs = graft.lake.LakeTable.read(spark, ref4.pqBooksPath)
      .select("sub").distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(subs === Seq(1, 2, 3, 4))
    // append against the frozen books covers the full corpus and is
    // idempotent by note (the O(delta) replay ledger), per geometry
    val batch = e.filter(IvfIndex.batchPred)
    val head = PqIndex.appendBatch(spark, key, batch, m = 4)
    assert(PqIndex.codes(spark, key, 4).count() === e.count())
    assert(PqIndex.appendBatch(spark, key, batch, m = 4) === head,
      "replayed append must be a no-op")
    // geometries are independent CODE artifacts sharing ONE frozen
    // coarse index (the coarse quantizer is M-independent — per-M
    // copies would duplicate training, storage and append work)
    val ref2 = PqIndex.ensureCorpusPq(spark, key, e, m = 2)
    assert(ref2.ivfKey === ref4.ivfKey,
      "all geometries must share the M-independent coarse index")
    assert(ref2.codesPath !== ref4.codesPath)
    val sizes2 = PqIndex.codes(spark, key, 2)
      .select(size(col("codes"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(sizes2 === Seq(2))
    // a geometry that does not divide the dimensionality is rejected
    intercept[IllegalArgumentException] {
      PqIndex.ensureCorpusPq(spark, key, e, m = 3)
    }
    graft.util.QueryScratch.release(spark)
  }

  test("pack_sequences / dedup_spans / eval_decontam: structural laws hold") {
    // pack_sequences: the chunking law — the last window index is
    // exactly (total tokens - 1) div C, and boundary-crossing docs
    // are a strict subset of each bucket's docs
    val pk = SparkEntry.queries("pack_sequences")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = pk.map(_._2).sum
    assert(pk.map(_._4).max === (total - 1) / 512,
      "max window index must equal (total tokens - 1) div C")
    pk.foreach { case (nDocs, _, nSpanning, _) =>
      assert(nSpanning <= nDocs)
    }
    // dedup_spans: every reported doc has 1 <= n_dup <= n_spans, and
    // at least one duplicated span exists in the corpus fixture
    val ds = SparkEntry.queries("dedup_spans")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ds.nonEmpty, "corpus fixture must contain duplicated spans")
    ds.foreach { case (_, nSpans, nDup) =>
      assert(nDup >= 1 && nDup <= nSpans)
    }
    // eval_decontam: output is exactly the eval partition, the
    // verdict is the conservative any-collision rule, and the
    // near-dup-seeded fixture contains both verdicts
    val dc = SparkEntry.queries("eval_decontam")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(dc.forall(_._1 % 10 == 0), "only eval-partition docs")
    dc.foreach { case (_, nContam, verdict) =>
      assert((nContam > 0) == (verdict == "drop"))
    }
    assert(dc.exists(_._3 == "drop") && dc.exists(_._3 == "keep"))
    graft.util.QueryScratch.release(spark)
  }

  test("ann_topk broadcasts the query side (scan streams once)") {
    val p = plan("ann_topk")
    assert(p.contains("Broadcast"), s"query side not broadcast:\n${p.take(2000)}")
  }

  test("ann_pq ADC pass broadcasts the distance tables; recall beats chance") {
    // the corpus-code side must join the per-query distance tables by
    // broadcast hash (K·M·10 rows), never a shuffle of the code frame
    val p = plan("ann_pq")
    assert(p.contains("BroadcastHashJoin"),
      s"ADC distance tables not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"ADC must be keyed lookups, not cross:\n${p.take(2000)}")
    // recall sanity against the exact baseline (deterministic data):
    // a 6-bit code + C-candidate re-rank must beat random-candidate
    // recall (~C/N) by a wide margin
    val pq = SparkEntry.queries("ann_pq")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("ann_topk")(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall@10 collapsed: $recall")
    graft.util.QueryScratch.release(spark)
  }

  test("split_leakage: cluster split leaks zero near-dup pairs; doc split leaks") {
    val rows = SparkEntry.queries("split_leakage")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val corpus = graft.sources.Tables.load(spark, sf, "documents").count()
    rows.values.foreach { case (tr, va, te, _) =>
      assert(tr + va + te === corpus, "every doc must land in exactly one split")
    }
    assert(rows("cluster")._4 === 0L,
      "cluster-wise split must leak zero near-dup pairs by construction")
    graft.util.QueryScratch.release(spark)
  }

  test("embed_quant: int8 reconstruction error is bounded and corpus fully covered") {
    val rows = SparkEntry.queries("embed_quant")(spark, sf).collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    val corpus = graft.sources.Tables.load(spark, sf, "embeddings").count()
    assert(n === corpus, s"quantization must cover every vector: $n/$corpus")
    // symmetric int8 over ±absmax keeps per-vector L1 error ~1/254
    // of mass — anything above 2% means the scale math broke
    rows.foreach { r =>
      val mx = r.getAs[Long]("err_bp_max")
      assert(mx < 200, s"label ${r.get(0)}: err_bp_max $mx out of int8 bounds")
    }
    graft.util.QueryScratch.release(spark)
  }

  test("exact dedup is a single hash aggregate, no sort-based agg") {
    val p = plan("dedup_exact")
    assert(p.contains("HashAggregate"), s"expected hash agg:\n${p.take(2000)}")
  }

  test("sessionize shuffles once on the user key") {
    val p = plan("sessionize")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected <=1 shuffle, got $shuffles:\n${p.take(3000)}")
  }

  test("text_gopher is map-side only: zero hash shuffles, pruned scan") {
    val p = plan("text_gopher")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 0, s"rule filter must not shuffle, got $shuffles:\n${p.take(3000)}")
    assert(p.contains("ReadSchema") && !p.contains("lang") && !p.contains("source"),
      s"text_gopher should read only doc_id+text:\n${p.take(2000)}")
  }

  test("dedup_semantic blocks on clusters: no cartesian pair generation") {
    val p = plan("dedup_semantic")
    // the K-row codebook broadcasts (BroadcastNestedLoopJoin is that
    // broadcast, not an N×N cross); the pair join itself must be
    // hash-keyed on the cluster id
    assert(!p.contains("CartesianProduct"),
      s"pair generation must join on cid, not cross:\n${p.take(2000)}")
  }

  test("bpe_train learns BPE invariants: concat merges, monotone counts") {
    val res = SparkEntry.queries("bpe_train")(spark, sf).collect()
    assert(res.length === graft.queries.LlmPipeline.BPE_MERGES)
    assert(res.map(_.getAs[Long]("rank")).toSeq ===
      (1 to graft.queries.LlmPipeline.BPE_MERGES).map(_.toLong))
    res.foreach { r =>
      assert(r.getAs[String]("merged") ===
        r.getAs[String]("l") + r.getAs[String]("r"))
      assert(r.getAs[Long]("n") > 0L)
    }
    // a merge removes every occurrence of its pair, and any pair it
    // creates occurs no more often than the adjacency it replaced —
    // so the top count never increases across rounds. (A pair CAN
    // legitimately re-top after later merges rebuild its left symbol,
    // so no set-cardinality assertion here.)
    val ns = res.map(_.getAs[Long]("n")).toSeq
    assert(ns === ns.sorted.reverse, s"counts must be non-increasing: $ns")
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }

  test("bpe_train lineage is bounded: periodic checkpoints keep the plan depth-flat") {
    import graft.queries.LlmPipeline
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(graft.util.Scratch.dir("graft_bpeck_spec_"))
    val s = spark
    import s.implicits._
    // deterministic two-letter vocabulary rich enough that 2×CKPT
    // merge rounds never run out of pairs
    val words = (0 until 48).map { i =>
      val w = Integer.toBinaryString(64 + i).replace('0', 'a').replace('1', 'b')
      (w + w, (i % 7 + 1).toLong)
    }
    val seq0 = words.toDF("word", "freq").select(
      array_join(transform(sequence(lit(1), length(col("word"))),
        i => concat(lit(""), col("word").substr(i, lit(1)), lit(""))), "")
        .as("seq"),
      col("freq"))
    val rounds = LlmPipeline.BPE_CKPT * 2
    val (tops, fin) = LlmPipeline.bpeTrainLoop(spark, seq0, rounds)
    assert(tops.collect().length === rounds)
    // the final vocab LINEAGE (analyzed plan, before cache
    // substitution) must hang off the LAST checkpoint, not the full
    // merge history: node count stays bounded by the rounds since
    // that checkpoint, and the checkpoint's LogicalRDD leaf is the
    // deepest ancestor
    val plan = fin.queryExecution.analyzed
    val nodes = plan.collect { case n => n }.size
    assert(nodes < 8 * (LlmPipeline.BPE_CKPT + 1),
      s"lineage not truncated ($nodes nodes)")
    assert(plan.collectLeaves().forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "non-materialized leaf in lineage: " +
        plan.collectLeaves().map(_.getClass.getSimpleName).mkString(", "))
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }

  test("seq_curriculum ranks distributedly: no single-partition exchange") {
    val df = SparkEntry.queries("seq_curriculum")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global rank must not funnel through one partition:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"no global window operator expected:\n${p.take(3000)}")
    // the rank base is the range-partitioned cached frame
    assert(p.contains("InMemoryTableScan"),
      s"expected the cached range-partitioned frame:\n${p.take(3000)}")
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }

  test("dedup_semantic losers genuinely have a near-duplicate partner") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosBp(a: Array[Double], b: Array[Double]): Long =
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 10000).toLong
    val res = SparkEntry.queries("dedup_semantic")(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val u = r.getAs[Long]("vec_id"); val m = r.getAs[Long]("max_cos_bp")
      assert(m >= 3000L, s"vec $u reported below threshold: $m")
      // the cluster partner that achieved max_cos_bp must exist in
      // the global corpus with exactly that floored cosine
      val hit = embs.exists { case (v, bv) => v != u && cosBp(embs(u), bv) == m }
      assert(hit, s"vec $u: no partner with cos_bp == $m exists")
    }
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }
}

/** The materialized MinHash index artifact: built once, probed by the
  * whole near-dup family, honest about what the incremental path
  * recomputes (the batch) and what it reads (the corpus).
  */
class MinhashIndexSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.MinhashIndex

  test("index content equals the from-scratch signature pipeline") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val fresh = MinhashIndex.bandsOf(MinhashIndex.baseOf(docs))
    val persisted = MinhashIndex.fullBands(spark, sf)
    assert(persisted.count() === fresh.count())
    assert(persisted.exceptAll(fresh).count() === 0L)
    assert(fresh.exceptAll(persisted).count() === 0L)
  }

  test("corpus partition (snapshot 1) excludes the incoming batch") {
    val corpus = MinhashIndex.corpusBands(spark, sf)
    assert(corpus.filter(MinhashIndex.batchPred).count() === 0L)
    // and the full view (snapshot 2) contains it
    assert(MinhashIndex.fullBands(spark, sf)
      .filter(MinhashIndex.batchPred).count() > 0L)
  }

  test("dedup_incremental reads the persisted index; only the batch is computed") {
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    // structural audit of the cache-substituted logical plan: cached
    // frames are LEAVES here, so a relation we collect is a relation
    // the query would actually (re)scan.
    val rels = df.queryExecution.withCachedData.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).mkString(",")
          case other => other.toString
        }
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.name()
    }
    // corpus side comes from the index artifact's parquet files
    // (base + bands = at least 2 index reads)
    val idxReads = rels.count(_.contains("graft_mhidx_"))
    assert(idxReads >= 2,
      s"corpus side must read the persisted index, saw relations:\n${rels.mkString("\n")}")
    // the raw documents table feeds AT MOST the batch branch — the
    // corpus signature pipeline must not be re-derived from it
    val docScans = rels.count(_.contains("documents"))
    assert(docScans <= 1,
      s"corpus recompute detected ($docScans documents scans):\n${rels.mkString("\n")}")
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }

  test("minhash consumers share the artifact: dedup_minhash plan reads it") {
    val p = SparkEntry.queries("dedup_minhash")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_mhidx_") || p.contains("InMemoryTableScan"),
      s"dedup_minhash should consume the materialized index:\n${p.take(2000)}")
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }

  test("ann_ivf probes the persisted IVF artifact: no k-means in the probe path") {
    // first call trains + commits the artifact (or finds it already
    // committed); the SECOND call must be a pure probe
    SparkEntry.queries("ann_ivf")(spark, sf).count()
    graft.util.QueryScratch.release(spark)
    val df = SparkEntry.queries("ann_ivf")(spark, sf)
    val rels = df.queryExecution.withCachedData.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).mkString(",")
          case other => other.toString
        }
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.name()
    }
    // the probe reads the committed codebook + cells tables …
    assert(rels.count(_.contains("graft_ivfidx_")) >= 2,
      s"probe must read the persisted IVF artifact, saw:\n${rels.mkString("\n")}")
    // … and the artifact tables are committed exactly once (a second
    // run trains nothing)
    val ref = graft.operators.IvfIndex.ensure(spark, sf,
      sys.error("ensure must not re-evaluate base once committed"))
    assert(graft.lake.LakeTable.currentSnapshot(ref.codebookPath) === 1)
    assert(graft.lake.LakeTable.currentSnapshot(ref.cellsPath) === 1)
    // the k-means trainer is absent from the probe plan: no iterative
    // posexplode/centroid-update aggregate over the corpus
    assert(!df.queryExecution.optimizedPlan.toString.contains("posexplode"),
      "probe path must not contain the centroid-update trainer")
    graft.util.QueryScratch.release(spark)
  }

  test("split_leakage probes the persisted cluster labels: no propagation in the probe path") {
    // first call trains the fixpoint + commits the label artifact (or
    // finds it already committed); subsequent consumers must be pure
    // parquet probes
    SparkEntry.queries("dedup_clusters")(spark, sf).count()
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
    val df = SparkEntry.queries("split_leakage")(spark, sf)
    // the analyzed plan (pre-cache-substitution: parts of the query
    // sit under QueryScratch caches, which withCachedData would fold
    // into opaque InMemoryRelation nodes)
    val rels = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString).mkString(",")
          case other => other.toString
        }
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.name()
    }
    // the probe reads the committed label table …
    assert(rels.exists(_.contains("graft_ccidx_")),
      s"probe must read the persisted cluster labels, saw:\n${rels.mkString("\n")}")
    // … which is committed exactly once (a second consumer propagates
    // nothing — the by-name pair generator is never re-evaluated)
    val root = graft.operators.ClusterIndex.ensure(spark, sf,
      sys.error("ensure must not re-evaluate pairs once committed"))
    assert(graft.lake.LakeTable.currentSnapshot(root) === 1)
    // the probe plan contains no iterative-propagation joins: the
    // only aggregates left are the split/leak accounting ones
    assert(!df.queryExecution.optimizedPlan.toString.contains("nbr"),
      "probe path must not contain the label-propagation trainer")
    graft.util.QueryScratch.release(spark)
    spark.catalog.clearCache()
  }

  test("index maintenance: MoR delete retires a doc's bands without a rewrite") {
    // a doc leaves the corpus (takedown, re-crawl): the index drops
    // its bands with ONE metadata-sized delete commit per table — no
    // signature recompute, no file rewrite. Built on a spec-local
    // index so the session-shared artifact stays immutable.
    import graft.lake.LakeTable
    import graft.writer.BlockWriter
    val root = graft.util.Scratch.dir("graft_mhdel_") + "/bands"
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 100)
    val cfg = BlockWriter.Config("doc_id", "doc_id", maxRecordsPerFile = 1 << 20)
    LakeTable.commit(spark, root,
      MinhashIndex.bandsOf(MinhashIndex.baseOf(docs)), cfg, Seq("doc_id"))
    val gone = 42L
    val before = LakeTable.read(spark, root)
      .filter(col("doc_id") === gone).count()
    assert(before > 0, "doc 42 should have band rows before the delete")
    val snap = LakeTable.deleteWhere(spark, root, "doc_id",
      spark.range(1).select(lit(gone).as("doc_id")))
    // the delete commit wrote no data files (same file list as parent)
    assert(LakeTable.manifest(root, snap).files.map(_.path).toSet ===
      LakeTable.manifest(root, snap - 1).files.map(_.path).toSet)
    // current view: the doc can no longer pair with anything
    assert(LakeTable.read(spark, root)
      .filter(col("doc_id") === gone).count() === 0L)
    // time travel: the pre-delete index is intact
    assert(LakeTable.read(spark, root, Some(snap - 1))
      .filter(col("doc_id") === gone).count() === before)
  }
}

/** Incremental maintenance of the persisted index artifacts: the
  * append path must probe-and-merge — never retrain the codebook,
  * never re-run the fixpoint over the corpus-scale pair graph — and
  * still land EXACTLY the rebuilt artifact.
  */
class IncrementalIndexSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._
  import graft.lake.LakeTable
  import graft.operators.{ClusterIndex, IvfIndex}

  test("IVF append: frozen codebook (snapshot stays 1), one append commit, equals re-assignment") {
    val s = spark
    // drive the operator end-to-end (idempotent if another test ran it)
    SparkEntry.queries("ann_ivf_append")(s, sf).collect()
    val viBase = graft.sources.Tables.load(s, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * lit(1000000.0) + lit(0.5)).cast("bigint")).as("vi"))
    val ref = IvfIndex.ensureCorpusIvf(s, sf, viBase)
    // NO retraining on append: the codebook table never advanced
    assert(LakeTable.currentSnapshot(ref.codebookPath) === 1,
      "append must not commit to the codebook table")
    // the batch landed as exactly one append commit on the lists
    assert(LakeTable.currentSnapshot(ref.cellsPath) === 2)
    val batchN = viBase.filter(IvfIndex.batchPred).count()
    val incr = LakeTable.incrementalRead(s, ref.cellsPath, 1, 2)
    assert(incr.count() === batchN, "append commit must hold exactly the batch")
    assert(incr.filter(!IvfIndex.batchPred).count() === 0L)
    // rebuilt-index law: post-append lists == full re-assignment
    // against the same frozen codebook
    val rebuilt = graft.queries.Advanced.kmAssign(viBase, IvfIndex.codebook(s, ref))
    val got = IvfIndex.cells(s, ref)
    assert(got.count() === rebuilt.count())
    assert(got.exceptAll(rebuilt).count() === 0L)
    assert(rebuilt.exceptAll(got).count() === 0L)
    // idempotence: re-running the whole operator (a bench rerun, a
    // retried job) must NOT duplicate the batch — same head, same rows
    SparkEntry.queries("ann_ivf_append")(s, sf).collect()
    assert(LakeTable.currentSnapshot(ref.cellsPath) === 2)
    assert(IvfIndex.cells(s, ref).count() === rebuilt.count())
  }

  test("drift gate: in-distribution batch keeps the frozen codebook; drifted batch flips the verdict to retrain") {
    val s = spark
    import s.implicits._
    val dim = 64
    def vec(parts: (Int, Double)*): Array[Double] = {
      val a = new Array[Double](dim)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    // frozen codebook: three axis cells (scaled-int, the trainer's units)
    def axis(i: Int): Array[Long] = {
      val a = new Array[Long](dim); a(i) = 1000000L; a
    }
    def gate(tag: String, rows: Seq[(Long, Array[Double])]): org.apache.spark.sql.DataFrame = {
      val ref = IvfIndex.Ref(graft.util.Scratch.dir(s"graft_drift_${tag}_"))
      val cbCfg = graft.writer.BlockWriter.Config("cid", "cid",
        maxRecordsPerFile = 1 << 20, parallelism = Some(1))
      val cfg = graft.writer.BlockWriter.Config("cid", "vec_id",
        maxRecordsPerFile = 1 << 20, parallelism = Some(2))
      LakeTable.commit(s, ref.codebookPath,
        Seq((1L, axis(0)), (2L, axis(1)), (3L, axis(2))).toDF("cid", "ci"),
        cbCfg, Seq("cid"))
      val e = rows.toDF("vec_id", "v")
      val vi = e.select(col("vec_id"),
        transform(col("v"), x => floor(x * lit(1000000.0) + lit(0.5))
          .cast("bigint")).as("vi"))
      // assignments against the FROZEN codebook — the exact arithmetic
      // ensureCorpusIvf/appendBatch run (the append==reassign law is
      // pinned by the IVF append test above)
      LakeTable.commit(s, ref.cellsPath,
        graft.queries.Advanced.kmAssign(vi, LakeTable.read(s, ref.codebookPath)),
        cfg, Seq("vec_id", "cid"))
      IvfIndex.recallGate(s, ref, e, vi,
        nQueries = 3, nprobe = 2, k = 8, retrainBp = 8000L)
    }
    // shared standing corpus: 7 members per axis cluster
    val corpus: Seq[(Long, Array[Double])] =
      (0 until 3).flatMap { c =>
        (1 to 7).map(i => ((c + 1) * 10 + i).toLong ->
          vec(c -> 1.0, 4 -> 0.001 * i))
      }
    // KEEP: queries at the cluster cores, batch lands at the cores too
    // — the frozen cells still separate the data, probe recall is
    // perfect, verdict holds the codebook
    val keepRows = corpus ++
      Seq(0L -> vec(0 -> 1.0, 3 -> 0.001), 1L -> vec(1 -> 1.0, 3 -> 0.002),
        2L -> vec(2 -> 1.0, 3 -> 0.003)) ++
      Seq(40L -> vec(0 -> 1.0, 4 -> 0.009), 50L -> vec(1 -> 1.0, 4 -> 0.009),
        60L -> vec(2 -> 1.0, 4 -> 0.009))
    val keep = gate("keep", keepRows).collect()
    assert(keep.length === 3)
    assert(keep.forall(_.getAs[String]("verdict") == "keep"), keep.mkString(";"))
    assert(keep.forall(_.getAs[Long]("recall_bp") == 10000L), keep.mkString(";"))
    // RETRAIN: a new mode BETWEEN the stale centroids — nine batch
    // vectors on the (1,1,1) diagonal, each tilted toward one axis so
    // the frozen cells split the mode across all three lists; queries
    // sit on the diagonal and probe only nprobe=2 cells, so a third
    // of their true neighbors live in the unprobed cell → recall
    // drops below the threshold and the verdict flips
    val diag = Seq(0, 1, 2)
    val drifted = corpus ++
      (0 until 3).map(q => q.toLong ->
        vec(0 -> 1.0, 1 -> 1.0, 2 -> 1.0, 3 -> 0.001 * (q + 1))) ++
      (0 until 9).map { j =>
        val tilt = diag(j % 3)
        (40L + 10L * j) ->
          vec(0 -> 1.0, 1 -> 1.0, 2 -> 1.0, tilt -> 1.05)
      }
    val retrain = gate("retrain", drifted).collect()
    assert(retrain.length === 3)
    assert(retrain.forall(_.getAs[String]("verdict") == "retrain"),
      retrain.mkString(";"))
    assert(retrain.forall(_.getAs[Long]("corpus_recall_bp") < 8000L),
      retrain.mkString(";"))
    // the gate measured real loss, not a degenerate zero
    assert(retrain.forall(_.getAs[Long]("n_hits") >= 1L), retrain.mkString(";"))
  }

  test("cluster append: fixpoint runs on the contraction only; bridge merges are exact MoR upserts") {
    val s = spark
    import s.implicits._
    val key = s"ccincr_spec_${System.nanoTime()}"
    // standing corpus: components {1,2}, {5,6}, plus 50 untouched
    // 2-doc clusters (200..299) the append must never look at
    val filler = (0 until 50).map(i => (200L + 2 * i, 201L + 2 * i))
    val corpusPairs = (Seq((1L, 2L), (5L, 6L)) ++ filler).toDF("doc_a", "doc_b")
    ClusterIndex.ensureCorpusLabels(s, key, corpusPairs)
    // batch: doc 10 BRIDGES clusters 1 and 5; docs 30/40 pair with a
    // never-before-paired corpus doc and each other
    val batchPairs = Seq((10L, 2L), (10L, 5L), (30L, 40L)).toDF("doc_a", "doc_b")
    val (root, nNodes, nUp) = ClusterIndex.appendBatch(s, key, batchPairs)
    // the contraction: {10, label 1, label 5, 30, 40} — the 50 filler
    // clusters (100 docs) never enter the propagated graph
    assert(nNodes === 5L, s"contracted graph had $nNodes nodes, expected 5")
    // upserts touch only the merged components and the fresh nodes:
    // relabeled {5, 6} + fresh {10, 30, 40}
    assert(nUp === 5L, s"upserted $nUp rows, expected 5")
    val got = LakeTable.read(s, root).as[(Long, Long)].collect().toMap
    // bridged component takes the global min label
    assert(got(1L) === 1L && got(2L) === 1L && got(5L) === 1L &&
      got(6L) === 1L && got(10L) === 1L)
    assert(got(30L) === 30L && got(40L) === 30L)
    // untouched clusters keep their labels
    assert(got(200L) === 200L && got(201L) === 200L && got(299L) === 298L)
    // full-rebuild equality over the union graph
    val full = ClusterIndex.propagate(corpusPairs.unionByName(batchPairs))
      .as[(Long, Long)].collect().toMap
    assert(got === full, "incremental labels must equal the full-rebuild fixpoint")
    // a second append with no new pairs is a no-op (no empty commits)
    val head = LakeTable.currentSnapshot(root)
    val (_, n2, u2) = ClusterIndex.appendBatch(s, key,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(n2 === 0L && u2 === 0L && LakeTable.currentSnapshot(root) === head)
  }

  test("dedup_clusters_append on the real corpus equals the full fixpoint") {
    val s = spark
    import s.implicits._
    val got = SparkEntry.queries("dedup_clusters_append")(s, sf)
      .as[(Long, Long)].collect().toMap
    val full = ClusterIndex.propagate(
        graft.queries.LlmPipeline.minhashPairs(s, sf))
      .as[(Long, Long)].collect().toMap
    assert(got === full)
    assert(got.nonEmpty)
  }
}

class PcaSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Pca

  private lazy val emb = graft.sources.Tables.load(spark, sf, "embeddings")
  private lazy val model = Pca.fit(emb, "embedding", 8)

  test("components are orthonormal; eigenvalues descend and are non-negative") {
    val k = model.components.length
    for (i <- 0 until k; j <- i until k) {
      val dot = model.components(i).zip(model.components(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"v${i}.v${j} = $dot")
    }
    model.eigenvalues.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-9, s"eigenvalues not descending: $a < $b")
    }
    assert(model.eigenvalues.last >= -1e-6, "covariance eigenvalue negative")
  }

  test("eigenpairs solve the covariance: ||C v − λ v|| small; Σλ over ALL dims = trace") {
    val d = model.d
    val cov = Array.tabulate(d, d)((i, j) => model.covC(i, j).toDouble / model.n)
    model.components.zip(model.eigenvalues).foreach { case (v, lambda) =>
      val cv = cov.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val resid = math.sqrt(cv.zip(v).map { case (a, b) => val e = a - lambda * b; e * e }.sum)
      assert(resid < 1e-6 * math.max(1.0, math.abs(lambda)), s"residual $resid for λ=$lambda")
    }
    // trace invariance on the full decomposition
    val full = Pca.fit(emb, "embedding", d)
    val trace = (0 until d).map(i => cov(i)(i)).sum
    val sumEv = full.eigenvalues.sum
    assert(math.abs(trace - sumEv) < 1e-6 * trace, s"trace $trace vs Σλ $sumEv")
  }

  test("projection variance follows the eigenvalues and beats every coordinate axis") {
    val proj = Pca.project(emb, "vec_id", "embedding", model).collect()
      .map(_.getSeq[Double](1).toArray)
    val n = proj.length
    def variance(idx: Int): Double = {
      val xs = proj.map(_(idx))
      val mean = xs.sum / n
      xs.map(x => (x - mean) * (x - mean)).sum / n
    }
    val v1 = variance(0); val v2 = variance(1)
    assert(v1 >= v2 - 1e-12, "pc1 variance must dominate pc2")
    // eigenvalues are variances in SCALED units (×10⁴ per axis)
    val s2 = Pca.ScaleF * Pca.ScaleF
    assert(math.abs(v1 * s2 - model.eigenvalues(0)) < 1e-3 * model.eigenvalues(0),
      s"pc1 variance ${v1 * s2} vs λ1 ${model.eigenvalues(0)}")
    val d = model.d
    val maxAxis = (0 until d).map(i => model.covC(i, i).toDouble / model.n).max
    assert(model.eigenvalues(0) >= maxAxis - 1e-9,
      "top eigenvalue must dominate every coordinate-axis variance")
  }
}
