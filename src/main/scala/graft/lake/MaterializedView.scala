package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.writer.BlockWriter

/** NAMED materialized views — the warehouse-object layer over
  * [[IncrementalJoinMv]]: the MV's DEFINITION (fact/dim roots, join
  * key, group columns, signed-SUM measures, original SQL) persists as
  * `meta/_mv.json` beside the MV table's own manifests, so the SQL
  * front door can drive the whole lifecycle by NAME:
  *
  * {{{
  * CREATE MATERIALIZED VIEW graft.db.mv AS
  *   SELECT g, COUNT(*) AS n, SUM(x) AS sx
  *   FROM graft.db.fact JOIN graft.db.dim USING (k) GROUP BY g
  * CALL graft.system.refresh_mv(table => 'db.mv')
  * SELECT * FROM graft.db.mv          -- a plain lake table read
  * SELECT * FROM graft.db.mv.mv       -- definition + basis metadata
  * DROP TABLE graft.db.mv             -- MVs are tables; DROP works
  * }}}
  *
  * The definition file is metadata ABOUT the table, not state: the
  * (fact, dim) BASIS the MV head reflects stays in the head commit's
  * note (atomic with the data — [[IncrementalJoinMv.basis]]), so a
  * rollback of the MV table rolls the basis back with it and the
  * next refresh folds forward from the restored basis.
  */
object MaterializedView {

  /** A stored MV definition. `sums` are (measure name, SUM-argument
    * SQL) pairs and `avgs` (measure name, AVG-argument SQL) pairs;
    * the structural count is always the `n` column. Three kinds:
    *  - `join`   — fact ⋈ dim rollup, delta-join law
    *    ([[IncrementalJoinMv]]); sums fold signed.
    *  - `single` — single-table COUNT/SUM rollup, append-only
    *    incremental fold with full-recompute fallback
    *    ([[IncrementalMv]]); each AVG is a DERIVED read-time column
    *    over a stored SUM with the same argument (grammar-enforced).
    *  - `minmax` — single-table MIN/MAX (+ any extra measures),
    *    group-targeted recompute ([[MinMaxMv]]); sums/avgs recompute
    *    alongside exactly.
    */
  final case class MvDef(fact: String, dim: String, key: String,
      group: Seq[String], sums: Seq[(String, String)], sql: String,
      kind: String = "join", value: String = "",
      minName: String = "", maxName: String = "",
      avgs: Seq[(String, String)] = Nil,
      dims: Seq[(String, Seq[String])] = Nil,
      // session timezone at CREATE: timezone-aware measure
      // expressions were materialized under it, so the query-rewrite
      // rule must bind the stored text to THIS zone (not the reading
      // session's) when deciding semantic equality — a tz mismatch
      // then fails the match instead of serving wrong-zone data.
      // Empty on pre-tz definitions: tz-aware measures never match.
      tz: String = "",
      // spark.sql.ansi.enabled at CREATE ("true"/"false"): SUM/AVG
      // overflow and error semantics differ by regime, so the rewrite
      // serves stored measures only to sessions in the SAME regime.
      // Empty on pre-ansi definitions: SUM/AVG measures never match.
      ansi: String = "",
      // EXPRESSION group items of the `single` and `join` kinds
      // (alias → SQL text): time buckets and other derived grouping
      // columns — `SELECT date_trunc('DAY', ts) AS d, … GROUP BY
      // date_trunc('DAY', ts)`. Each refresh re-derives the column
      // over exactly the base/joined rows it folds (the prep hook);
      // `group` carries the ALIAS. Single-kind expr MVs serve the
      // dedicated expression rewrite tier; join-kind expr MVs are
      // never auto-rewrite candidates (an alias is not a base
      // column — name-based matching would be unsound).
      groupExprs: Seq[(String, String)] = Nil,
      // the `distinct` kind's COUNT(DISTINCT <col>) AS <name>
      // measure: the argument column (a plain fact column — the
      // hidden (group, key) state's key) and the stored output
      // column. Empty on every other kind.
      distinctCol: String = "", distinctName: String = "",
      // ADDITIONAL COUNT(DISTINCT) measures beyond the first — each
      // gets its own hidden (group, key) state table (`_dstate<i>`),
      // maintained by the same signed fold; `uniq_users,
      // uniq_sessions` in one view is one MV, N hidden states.
      extraDistincts: Seq[(String, String)] = Nil,
      // the distinct kind's STATE REPRESENTATION: "" / "exact" = the
      // signed (group, key) state ([[DistinctMv]]); "bitmap" = the
      // word-sharded bitset state for bounded integral keys
      // ([[BitmapDistinctMv]]), with `distinctDomain` the exclusive
      // key upper bound; "hll" = the bounded-register SKETCH state
      // for unbounded domains ([[HllDistinctMv]]), with
      // `distinctPrecision` the register-index bit width p
      distinctKind: String = "", distinctDomain: Long = 0L,
      distinctPrecision: Int = 0) {
    /** All COUNT(DISTINCT) measures, first-first: (column, name). */
    def distincts: Seq[(String, String)] =
      if (distinctCol.isEmpty) Nil
      else (distinctCol, distinctName) +: extraDistincts

    /** The effective dimension list of a `join` MV: the multi-dim
      * `dims` field when present, else the legacy single (dim, key)
      * pair — pre-multi-dim `_mv.json` files keep working.
      */
    def joinDims: Seq[IncrementalJoinMv.DimSpec] =
      if (dims.nonEmpty)
        dims.map { case (r, ks) => IncrementalJoinMv.DimSpec(r, ks) }
      else Seq(IncrementalJoinMv.DimSpec(dim, Seq(key)))
  }

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def defPath(mvDir: String) = Paths.get(mvDir, "meta", "_mv.json")

  def isMv(mvDir: String): Boolean = Files.exists(defPath(mvDir))

  private def writeDef(mvDir: String, d: MvDef): Unit = {
    val n = mapper.createObjectNode()
    n.put("fact", d.fact); n.put("dim", d.dim); n.put("key", d.key)
    val g = n.putArray("group"); d.group.foreach(x => { g.add(x): Unit })
    val a = n.putArray("sums")
    d.sums.foreach { case (name, e) =>
      val o = a.addObject(); o.put("name", name); o.put("expr", e): Unit
    }
    n.put("sql", d.sql)
    n.put("kind", d.kind); n.put("value", d.value)
    n.put("min_name", d.minName); n.put("max_name", d.maxName)
    n.put("tz", d.tz); n.put("ansi", d.ansi)
    n.put("distinct_col", d.distinctCol); n.put("distinct_name", d.distinctName)
    n.put("distinct_kind", d.distinctKind)
    n.put("distinct_domain", d.distinctDomain)
    n.put("distinct_precision", d.distinctPrecision)
    val xd = n.putArray("extra_distincts")
    d.extraDistincts.foreach { case (c, nm) =>
      val o = xd.addObject(); o.put("col", c); o.put("name", nm): Unit
    }
    val av = n.putArray("avgs")
    d.avgs.foreach { case (name, e) =>
      val o = av.addObject(); o.put("name", name); o.put("expr", e): Unit
    }
    val dm = n.putArray("dims")
    d.dims.foreach { case (root, keys) =>
      val o = dm.addObject(); o.put("root", root)
      val ka = o.putArray("keys"); keys.foreach(k => { ka.add(k): Unit })
    }
    val ge = n.putArray("group_exprs")
    d.groupExprs.foreach { case (alias, txt) =>
      val o = ge.addObject(); o.put("name", alias); o.put("expr", txt): Unit
    }
    Files.createDirectories(defPath(mvDir).getParent)
    // atomic publish: a crash mid-write must not leave truncated JSON
    // that bricks every later refresh_mv / metadata read
    val tmp = defPath(mvDir).resolveSibling(s"._mv.${System.nanoTime()}.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(n))
    Files.move(tmp, defPath(mvDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def readDef(mvDir: String): MvDef = {
    require(isMv(mvDir),
      s"$mvDir is not a materialized view (no meta/_mv.json definition); " +
        "only tables created by CREATE MATERIALIZED VIEW can be refreshed")
    val n = mapper.readTree(Files.readString(defPath(mvDir)))
    def arr(name: String) = Option(n.get(name)).map { node =>
      val it = node.elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }.getOrElse(Seq.empty)
    def opt(name: String) = Option(n.get(name)).map(_.asText()).getOrElse("")
    MvDef(n.get("fact").asText(), n.get("dim").asText(), n.get("key").asText(),
      arr("group").map(_.asText()),
      arr("sums").map(o => (o.get("name").asText(), o.get("expr").asText())),
      n.get("sql").asText(),
      kind = Option(n.get("kind")).map(_.asText()).getOrElse("join"),
      value = opt("value"), minName = opt("min_name"), maxName = opt("max_name"),
      avgs = arr("avgs").map(o => (o.get("name").asText(), o.get("expr").asText())),
      dims = arr("dims").map { o =>
        val it = o.get("keys").elements()
        (o.get("root").asText(),
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next().asText()).toSeq)
      },
      tz = opt("tz"), ansi = opt("ansi"),
      groupExprs = arr("group_exprs")
        .map(o => (o.get("name").asText(), o.get("expr").asText())),
      distinctCol = opt("distinct_col"), distinctName = opt("distinct_name"),
      extraDistincts = arr("extra_distincts")
        .map(o => (o.get("col").asText(), o.get("name").asText())),
      distinctKind = opt("distinct_kind"),
      distinctDomain = Option(n.get("distinct_domain"))
        .map(_.asLong()).getOrElse(0L),
      distinctPrecision = Option(n.get("distinct_precision"))
        .map(_.asInt()).getOrElse(0))
  }

  /** Modification time of the definition file — the incarnation
    * fingerprint the rewrite rule's caches key on (a DROP + re-CREATE
    * at the same path must never serve the old definition or scan).
    */
  def defMtime(mvDir: String): Long =
    try Files.getLastModifiedTime(defPath(mvDir)).toMillis
    catch { case _: java.io.IOException => -1L }

  private def aggsOf(d: MvDef): Seq[IncrementalJoinMv.Agg] =
    d.sums.map { case (name, e) => IncrementalJoinMv.sumAgg(name, expr(e)) }

  /** `single` kind: the structural count + bigint SUM measures as
    * [[IncrementalMv]] fold specs (sum-of-sums / sum-of-counts).
    */
  private def singleAggs(d: MvDef): Seq[IncrementalMv.Agg] =
    IncrementalMv.Agg(IncrementalJoinMv.CountCol,
      count(lit(1)).cast("bigint"), c => sum(c).cast("bigint")) +:
      d.sums.map { case (name, e) =>
        IncrementalMv.Agg(name, sum(expr(e)).cast("bigint"),
          c => sum(c).cast("bigint"))
      }

  /** `single` kind AVG sugar: each AVG is a derived READ-TIME column
    * over the same-argument stored SUM (grammar guarantees it exists)
    * — recomputed after every fold, never itself folded.
    */
  private def singleDerived(d: MvDef): Seq[(String, org.apache.spark.sql.Column)] =
    d.avgs.map { case (aName, aExpr) =>
      val sName = d.sums.find(_._2.trim == aExpr.trim).map(_._1).getOrElse(
        sys.error(s"AVG($aExpr) without a same-argument stored SUM — " +
          "the DDL grammar should have rejected this definition"))
      (aName, col(sName).cast("double") / col(IncrementalJoinMv.CountCol))
    }

  /** `minmax` kind: extra measures recompute alongside MIN/MAX for
    * touched groups — SUMs bigint (the grammar's integer-exactness
    * convention), AVGs exact-by-recompute doubles.
    */
  private def minmaxExtras(d: MvDef): Seq[(String, org.apache.spark.sql.Column)] =
    d.sums.map { case (n0, e) => (n0, sum(expr(e)).cast("bigint")) } ++
      d.avgs.map { case (n0, e) => (n0, avg(expr(e))) }

  /** Append-only FOLD laws for the minmax kind's extras, parallel to
    * [[minmaxExtras]]: a SUM folds (sum of partial sums) only when
    * its argument is INTEGRAL — the stored extra is
    * `sum(expr).cast(bigint)`, so a fractional argument truncates
    * per-PARTIAL under a fold but per-TOTAL under the recompute
    * paths, and the same fact content would diverge by maintenance
    * path. AVGs never fold (recompute-exact semantics — NULL-aware
    * divisors can't be folded from stored state). Any None keeps the
    * targeted path.
    */
  private def minmaxExtraFolds(s: SparkSession, d: MvDef)
      : Seq[Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]] = {
    import org.apache.spark.sql.types._
    val argTypes =
      try {
        // schema-only probe with ZERO file IO: an empty frame under
        // the manifest schema (a scan-based probe can stat data files
        // eagerly — a refresh running with hidden/moved files would
        // then silently lose its fold law and scan the fact head)
        val schema = LakeTable.storedSchemaOf(d.fact).getOrElse(
          LakeTable.read(s, d.fact).schema)
        val probe = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        d.sums.map(x => probe.selectExpr(x._2).schema.head.dataType)
      } catch { case _: Exception => d.sums.map(_ => DoubleType) } // → no fold
    d.sums.zip(argTypes).map {
      case (_, ByteType | ShortType | IntegerType | LongType) =>
        Some((c: org.apache.spark.sql.Column) => sum(c).cast("bigint"))
      case _ => None
    } ++ d.avgs.map(_ => None)
  }

  /** The base-row PREP of an expression-group definition: derive each
    * expression group column (alias := expr over the base row) before
    * grouping — applied by the maintenance law to EVERY base read
    * (full, delta). Timezone-SENSITIVE bucket expressions (date_trunc
    * et al. bind the session zone) are guarded: a refresh session in
    * a different zone would silently shift every bucket, so it fails
    * pointedly instead.
    */
  private def prepFor(s: SparkSession, d: MvDef): DataFrame => DataFrame =
    if (d.groupExprs.isEmpty) identity
    else { df =>
      val out = d.groupExprs.foldLeft(df) { case (acc, (alias, txt)) =>
        acc.withColumn(alias, expr(txt))
      }
      val added = d.groupExprs.map(_._1).toSet
      // scan EVERY Project level: chained withColumn nests one per
      // derived column in the ANALYZED plan (CollapseProject is an
      // optimizer rule), so only the LAST alias sits at the top
      val aliases = out.queryExecution.analyzed.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Alias
                if added.contains(a.name) => a
          }
      }.flatten
      // fewer aliases than derived columns = unexpected plan shape —
      // guard conservatively
      val tzSensitive = aliases.size < d.groupExprs.size ||
        aliases.exists(_.exists {
          case c: org.apache.spark.sql.catalyst.expressions.Cast =>
            c.needsTimeZone
          case _: org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression => true
          case _ => false
        })
      if (tzSensitive)
        require(s.sessionState.conf.sessionLocalTimeZone == d.tz,
          s"materialized view group expression binds the session " +
            s"timezone: it was defined under '${d.tz}' but this session " +
            s"runs '${s.sessionState.conf.sessionLocalTimeZone}' — a " +
            "refresh here would shift every bucket; SET " +
            s"spark.sql.session.timeZone=${d.tz} to refresh")
      // ANSI-REGIME guard, the tz require's sibling: expr(txt)
      // re-parses the stored bucket text under the CURRENT session,
      // so an arithmetic/cast bucket (`x div 100`, `CAST(… AS int)`)
      // re-derived under a flipped spark.sql.ansi.enabled can bind
      // different overflow/coercion semantics and silently derive
      // DIFFERENT bucket values than the CREATE-time rows already
      // stored — splitting groups. Stored measures record and compare
      // d.ansi on the rewrite path; derived group expressions must
      // hold refresh to the same regime.
      val ansiSensitive = aliases.size < d.groupExprs.size ||
        aliases.exists(_.exists {
          case _: org.apache.spark.sql.catalyst.expressions.Cast => true
          case _: org.apache.spark.sql.catalyst.expressions.BinaryArithmetic => true
          case _: org.apache.spark.sql.catalyst.expressions.UnaryMinus => true
          case _: org.apache.spark.sql.catalyst.expressions.Abs => true
          case _ => false
        })
      if (ansiSensitive)
        require(d.ansi.nonEmpty &&
            s.sessionState.conf.ansiEnabled.toString == d.ansi,
          s"materialized view group expression binds the ANSI regime: " +
            s"it was defined under spark.sql.ansi.enabled=" +
            s"${if (d.ansi.isEmpty) "<unrecorded>" else d.ansi} but this " +
            s"session runs ${s.sessionState.conf.ansiEnabled} — a refresh " +
            "here could derive different bucket values for the same base " +
            s"rows; SET spark.sql.ansi.enabled=${d.ansi} to refresh")
      out
    }

  /** The minmax kind's recompute/mask KEY: the first STORED
    * NON-TIMESTAMP fact group column (never a derived bucket alias —
    * the changelog must name it, the IN filter must reach the
    * manifest, and the fold's equality-delete mask must
    * equality-apply, which timestamps cannot). Plain-column views
    * keep the legacy lead-column key; the DDL guards guarantee a
    * usable key exists for expression-group views.
    */
  private def minmaxKey(s: SparkSession, d: MvDef): String = {
    if (d.groupExprs.isEmpty) return d.group.head
    val exprNames = d.groupExprs.map(_._1.toLowerCase).toSet
    val bare = d.group.filterNot(g => exprNames.contains(g.toLowerCase))
    // manifest schema only — zero file IO (see minmaxExtraFolds).
    // An UNAVAILABLE schema must fail here, not guess: a vacuous
    // "unknown type ⇒ not timestamp" pick could key the refresh's
    // eq-delete mask on a TIMESTAMP column — reintroducing at refresh
    // time exactly the failure the CREATE-time DDL guard rejects.
    val schema = scala.util.Try(LakeTable.storedSchemaOf(d.fact).get)
      .getOrElse(sys.error(
        s"min/max MV refresh: stored schema of fact ${d.fact} is " +
          "unavailable — cannot verify a non-timestamp recompute key; " +
          "re-commit the fact with schema metadata before refreshing"))
    val types = bare.flatMap(g =>
      schema.fields.find(_.name.equalsIgnoreCase(g)).map(g -> _.dataType)).toMap
    bare.find(g => types.get(g)
        .exists(_ != org.apache.spark.sql.types.TimestampType))
      .getOrElse(sys.error("min/max MV has no plain non-timestamp group " +
        "column to key its recompute on — CREATE should have rejected this"))
  }

  private def cfgOf(d: MvDef): BlockWriter.Config =
    BlockWriter.Config(d.group.head, d.group.head, maxRecordsPerFile = 1 << 20)

  /** The sketch law of a bitmap or HLL distinct MV; None otherwise. */
  private def sketchLaw(d: MvDef): Option[SketchStateMv.Law] =
    d.distinctKind match {
      case "bitmap" => Some(BitmapDistinctMv(d.distinctDomain))
      case "hll" => Some(HllDistinctMv(d.distinctPrecision))
      case _ => None
    }

  /** Materialize + persist the definition; returns the MV snapshot.
    * The definition lands (atomically) BEFORE the materialization
    * commit: a crash in between leaves a def-only directory that
    * `DROP TABLE` removes cleanly, whereas the reverse order would
    * leave a committed table no refresh can ever drive. A FAILED
    * materialization cleans its def up so the name frees again.
    */
  def create(s: SparkSession, mvDir: String, d0: MvDef): Int = {
    val d = d0.copy(tz = s.sessionState.conf.sessionLocalTimeZone,
      ansi = s.sessionState.conf.ansiEnabled.toString)
    writeDef(mvDir, d)
    try {
      val snap = (d.kind, sketchLaw(d)) match {
        case ("minmax", _) =>
          MinMaxMv.create(s, d.fact, mvDir, d.group.head, d.value, cfgOf(d),
            d.minName, d.maxName, extras = minmaxExtras(d),
            subGroups = d.group.tail, prep = prepFor(s, d),
            keyCol = minmaxKey(s, d))
        case ("single", _) =>
          IncrementalMv.create(s, d.fact, mvDir, d.group, singleAggs(d),
            cfgOf(d), derived = singleDerived(d), prep = prepFor(s, d))
        case ("distinct", Some(law)) =>
          SketchStateMv.create(s, law, d.fact, mvDir, d.group, d.distinctCol,
            d.distinctName, cfgOf(d), prep = prepFor(s, d))
        case ("distinct", None) =>
          DistinctMv.create(s, d.fact, mvDir, d.group, d.distinctCol,
            d.distinctName, cfgOf(d), sums = d.sums,
            derived = singleDerived(d), prep = prepFor(s, d),
            extra = d.extraDistincts)
        case _ => IncrementalJoinMv.create(s, d.fact, d.joinDims, mvDir,
          d.group, aggsOf(d), cfgOf(d), prep = prepFor(s, d))
      }
      registerRef(d.fact, mvDir)
      snap
    }
    catch { case e: Throwable =>
      Files.deleteIfExists(defPath(mvDir))
      // a bare meta/ dir would still read as "table exists" to the
      // catalog and block a re-CREATE — sweep it if nothing landed
      try {
        Files.deleteIfExists(Paths.get(mvDir, "meta"))
        Files.deleteIfExists(Paths.get(mvDir)): Unit
      } catch { case _: java.io.IOException => () }
      throw e
    }
  }

  // --------------------------------------------------------------
  // MV-reference registry: `meta/_mv_refs.json` ON THE FACT TABLE
  // lists the MVs defined over it, so the automatic query-rewrite
  // rule ([[graft.plans.MvRewrite]]) can find candidates in O(1)
  // from the scan it already holds — no catalog enumeration on the
  // query path. ADVISORY metadata only: a missing or lost ref
  // disables automatic rewrite for that MV, never correctness
  // (the query then runs against the fact table as written).

  private def refsPath(factDir: String) =
    Paths.get(factDir, "meta", "_mv_refs.json")

  // the rewrite rule consults refsOf on every aggregate over a graft
  // scan, every optimizer iteration — cache the parse by file mtime
  // (the liveness filter below stays per-call so DROP shows at once)
  private val refsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (java.nio.file.attribute.FileTime, Seq[String])]

  /** MV directories registered over a fact table; lazily drops
    * entries whose definition is gone (DROP TABLE on the MV).
    */
  def refsOf(factDir: String): Seq[String] = {
    val p = refsPath(factDir)
    if (!Files.isRegularFile(p)) Nil
    else try {
      val mtime = Files.getLastModifiedTime(p)
      val cached = refsCache.get(factDir)
      val raw =
        if (cached != null && cached._1 == mtime) cached._2
        else {
          val n = mapper.readTree(Files.readString(p))
          val it = n.get("mvs").elements()
          val parsed = Iterator.continually(it).takeWhile(_.hasNext)
            .map(_.next().asText()).toSeq
          if (refsCache.size > 256) refsCache.clear()
          refsCache.put(factDir, (mtime, parsed))
          parsed
        }
      raw.filter(isMv)
    } catch { case _: Exception => Nil } // advisory: unreadable = none
  }

  private def writeRefs(factDir: String, mvDirs: Seq[String]): Unit = {
    val n = mapper.createObjectNode()
    val a = n.putArray("mvs")
    mvDirs.foreach(x => { a.add(x): Unit })
    Files.createDirectories(refsPath(factDir).getParent)
    val tmp = refsPath(factDir)
      .resolveSibling(s"._mv_refs.${System.nanoTime()}.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(n))
    Files.move(tmp, refsPath(factDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  /** Record `mvDir` as an MV over `factDir` (idempotent). Plain
    * read-modify-write: concurrent CREATEs could drop each other's
    * ref, which costs a missed rewrite opportunity, not wrong data —
    * the commit protocol's CAS is reserved for state that matters.
    */
  private def registerRef(factDir: String, mvDir: String): Unit = try {
    val cur = refsOf(factDir)
    if (!cur.contains(mvDir)) writeRefs(factDir, cur :+ mvDir)
  } catch { case _: java.io.IOException => () } // advisory — see above

  /** Remove `mvDir` from `factDir`'s registry — DROP MATERIALIZED
    * VIEW's eager half (the lazy half, [[refsOf]]'s liveness filter,
    * already hides a dropped MV; eager removal keeps the registry
    * file from accreting dead entries and the `t.mvs` row gone even
    * if a plain table is later created at the same path).
    */
  def deregisterRef(factDir: String, mvDir: String): Unit = try {
    val cur = refsOf(factDir)
    if (cur.contains(mvDir)) writeRefs(factDir, cur.filterNot(_ == mvDir))
  } catch { case _: java.io.IOException => () } // advisory — see above

  /** Fold base-table changes since the recorded basis by the stored
    * kind's law; returns the FULL new basis vector — (fact) for the
    * single-table kinds, (fact, d₁ … dₖ) for join MVs. The one
    * dispatch every caller goes through.
    */
  def refreshAll(s: SparkSession, mvDir: String): Seq[Int] = {
    val d = readDef(mvDir)
    // SELF-HEAL the advisory rewrite registry: _mv_refs.json is a
    // plain read-modify-write, so a CREATE racing a DROP over the
    // same fact can lose this MV's entry (cost: missed rewrites,
    // never wrong data). Idempotent re-register on every refresh
    // bounds the loss to one refresh cycle.
    registerRef(d.fact, mvDir)
    (d.kind, sketchLaw(d)) match {
      case ("minmax", _) =>
        Seq(MinMaxMv.refresh(s, d.fact, mvDir, d.group.head, d.value, cfgOf(d),
          d.minName, d.maxName, extras = minmaxExtras(d),
          subGroups = d.group.tail, extraFolds = minmaxExtraFolds(s, d),
          prep = prepFor(s, d), keyCol = minmaxKey(s, d)))
      case ("single", _) =>
        Seq(IncrementalMv.refresh(s, d.fact, mvDir, d.group, singleAggs(d),
          cfgOf(d), derived = singleDerived(d), prep = prepFor(s, d)))
      case ("distinct", Some(law)) =>
        Seq(SketchStateMv.refresh(s, law, d.fact, mvDir, d.group,
          d.distinctCol, d.distinctName, cfgOf(d), prep = prepFor(s, d),
          // a derived bucket cannot key the IN-pruned targeted scan
          targetedOk = d.groupExprs.isEmpty))
      case ("distinct", None) =>
        Seq(DistinctMv.refresh(s, d.fact, mvDir, d.group, d.distinctCol,
          d.distinctName, cfgOf(d), sums = d.sums,
          derived = singleDerived(d), prep = prepFor(s, d),
          extra = d.extraDistincts))
      case _ => IncrementalJoinMv.refresh(s, d.fact, d.joinDims, mvDir,
        d.group, aggsOf(d), cfgOf(d), prep = prepFor(s, d))
    }
  }

  /** Scalar-pair convenience for single-table and one-dimension MVs;
    * refuses to TRUNCATE a multi-dimension basis vector silently.
    */
  def refresh(s: SparkSession, mvDir: String): (Int, Int) = {
    val b = refreshAll(s, mvDir)
    require(b.size <= 2,
      s"$mvDir is a ${b.size - 1}-dimension join MV — use refreshAll " +
        "(the pair form would drop dimension bases)")
    (b.head, if (b.size > 1) b(1) else 0)
  }

  /** Refresh by name and render the new basis for the CALL-procedure
    * output — pure rendering over [[refreshAll]]'s vector.
    */
  def refreshStatus(s: SparkSession, mvDir: String): String =
    refreshAll(s, mvDir) match {
      case Seq(f) => s"fact=$f"
      case Seq(f, d) => s"fact=$f,dim=$d"
      case f +: ds => s"fact=$f,dims=${ds.mkString(",")}"
    }

  private def measuresOf(d: MvDef): String = {
    val sumS = d.sums.map(x => s"${x._1}=sum(${x._2})")
    val avgS = d.avgs.map(x => s"${x._1}=avg(${x._2})")
    (d.kind match {
      case "minmax" =>
        Seq(s"${d.minName}=min(${d.value})", s"${d.maxName}=max(${d.value})") ++
          sumS ++ avgS
      case "distinct" =>
        d.distincts.map { case (c, nm) => s"$nm=count(distinct $c)" } ++
          sumS ++ avgS
      case _ => sumS ++ avgS
    }).mkString("; ")
  }

  /** The basis vector the MV head reflects and the maintenance MODE of
    * the refresh that landed it, from one walk over the head's basis
    * notes — the one kind dispatch for both. Modes: `incr`/`full`
    * (single), `fold`/`targeted`/`full` (minmax and the sketch distinct
    * kinds), `signed`/`full` (exact distinct), `delta` (join: always
    * the delta-join fold).
    */
  def basisOf(d: MvDef, mvDir: String): (Seq[Int], String) = {
    val prefix = d.kind match {
      case "minmax" => MvBasis.MinMax
      case "single" => MvBasis.Single
      case "distinct" => MvBasis.Distinct
      case _ => MvBasis.Join
    }
    val note = MvBasis.of(mvDir, prefix)
    (note.snaps,
      if (prefix == MvBasis.Join) "delta"
      else if (note.mode.isEmpty) "?" else note.mode)
  }

  /** The basis vector the MV head reflects and the CURRENT heads of
    * its base tables, in the same order — equal iff the MV is fresh.
    */
  private def basisVsHeads(d: MvDef, mvDir: String): (Seq[Int], Seq[Int]) = {
    val basis = basisOf(d, mvDir)._1
    val heads = d.kind match {
      case "join" => LakeTable.currentSnapshot(d.fact) +:
        d.joinDims.map(x => LakeTable.currentSnapshot(x.root))
      case _ => Seq(LakeTable.currentSnapshot(d.fact))
    }
    (basis, heads)
  }

  /** The FACT-side `t.mvs` metadata table: one row per MV registered
    * over `factDir` (kind, grouping, measures, basis, FRESHNESS —
    * whether the basis vector equals every base table's head). The
    * operator's answer to "which rollups cover this table, and can a
    * query trust them right now"; the same registry the automatic
    * query-rewrite rule consults, surfaced. Metadata-only: no data IO
    * at any table size.
    */
  def mvsDf(s: SparkSession, factDir: String): DataFrame = {
    val rows = refsOf(factDir).flatMap { mvDir =>
      scala.util.Try {
        val d = readDef(mvDir)
        val (basis, heads) = basisVsHeads(d, mvDir)
        (d.kind, d.group.mkString(","), measuresOf(d),
          basis.head, basis == heads, LakeTable.currentSnapshot(mvDir))
      }.toOption
    }
    import s.implicits._
    rows.toDF("kind", "group_cols", "measures", "basis_fact", "fresh", "snapshot")
  }

  /** (kind, fact root, fresh?) of the MV at `mvDir` — the namespace
    * inventory row `SHOW MATERIALIZED VIEWS` renders. Metadata-only.
    */
  def summary(mvDir: String): (String, String, Boolean) = {
    val d = readDef(mvDir)
    val (basis, heads) = basisVsHeads(d, mvDir)
    (d.kind, d.fact, basis == heads)
  }

  /** Refresh every REGISTERED MV over `factDir` whose basis is
    * behind; returns the refreshed MV dirs. The post-commit
    * auto-refresh hook ([[AutoMaintain]]) and `CALL refresh_mvs`
    * share this. Failures skip (maintenance is advisory — a skipped
    * MV stays visibly stale in `t.mvs` until the next refresh).
    */
  def refreshStale(s: SparkSession, factDir: String): Seq[String] =
    refsOf(factDir).filter { mvDir =>
      scala.util.Try {
        val d = readDef(mvDir)
        val (basis, heads) = basisVsHeads(d, mvDir)
        if (basis == heads) false else { refreshAll(s, mvDir); true }
      }.getOrElse(false)
    }

  /** The `t.mv` metadata row: definition + current basis — the
    * history-style operator view of what the MV head reflects.
    */
  def statusDf(s: SparkSession, mvDir: String): DataFrame = {
    val d = readDef(mvDir)
    val (basisVec, mode) = basisOf(d, mvDir)
    val bf = basisVec.head
    val bd = if (basisVec.size > 1) basisVec(1) else 0
    val measures = measuresOf(d)
    val (dimStr, keyStr) =
      if (d.kind == "join" && d.joinDims.size > 1)
        (d.joinDims.map(_.root).mkString(","),
          d.joinDims.map(_.keys.mkString("+")).mkString(","))
      else (d.dim, d.key)
    import s.implicits._
    Seq((d.fact, dimStr, keyStr, d.group.mkString(","), measures,
      bf, bd, basisVec.tail.mkString(","),
      LakeTable.currentSnapshot(mvDir), mode))
      .toDF("fact", "dim", "key", "group_cols", "measures",
        "basis_fact", "basis_dim", "basis_dims", "snapshot", "mode")
  }
}
