// In the spark.sql namespace with the other graft Catalyst pieces: the
// rule pattern-matches our own VectorCosine expression class directly
// and splices Dataset-built plans via classic.Dataset.ofRows.
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Descending, EqualTo, Expression, If, IsNull, Literal, Or, RaiseError, SortDirection, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StringType}

/** HNSW-accelerated KNN as a Catalyst optimizer rule — the sibling of
  * [[AnnProbeRewrite]] for the index class the reference actually serves
  * from (pgvector HNSW, storage/schema.py:78-84). The IVF rule narrows a
  * scan; a graph walk cannot be expressed as a filter, so this rule
  * REPLACES the matched top-k-by-[[VectorCosine]] subtree with the
  * [[graft.search.Hnsw.searchIndex]] plan over a persisted adjacency
  * table, id-preserving-projected back onto the original output
  * attributes. The SQL text stays an exact-looking
  * `WHERE … ORDER BY cosine DESC LIMIT k` — or the reference's
  * VERBATIM distance form, `ORDER BY (1 - vector_cosine(…)) ASC` /
  * `ORDER BY vector_cosine_distance(…) ASC` (pgvector's `ORDER BY
  * embedding <=> $q`, retrieval/search.py:106-112), including when the
  * distance key is not in the SELECT list (the analyzer's drop-Project
  * above the Sort is served through); the planner supplies the
  * beam-search walk — pgvector's index-scan substitution, including the
  * filtered form (the predicate rides into the walk: every node is
  * traversed for navigation, only eligible nodes are collected, so
  * `ef ≥ shard size` remains an exactness witness under any predicate).
  *
  * Explicitly opt-in, and the configured adjacency must index the table
  * being queried (the same contract as pointing [[AnnProbeRewrite]] at a
  * quantizer: pgvector knows the index belongs to the table; here the
  * session owner says so):
  *
  *   spark.conf.set("spark.graft.ann.hnsw.index", "<saveIndex path>")
  *   spark.conf.set("spark.graft.ann.hnsw.ef", "64")   // 0 disables
  *
  * WIDE outputs are served, not just (id, score): the walk ranks the k
  * ids, a broadcast join fetches the k base rows, and the user's OWN
  * Project/Filter chain is re-applied over them — so every selected
  * expression (content, metadata, the cosine itself) is computed
  * exactly over the base tuples with its original exprIds (pgvector's
  * contract: the index orders, the SELECT list evaluates on the heap
  * tuple). The reference's actual serving query — id + content + view
  * + score — therefore rides the index too.
  *
  * Falls back to the exact scan (plan untouched) whenever the shape is
  * not provably servable from the index: a ranking operand that is not
  * the relation's own `vector` column, predicates touching the
  * id/vector columns, nondeterministic projections, joins under the
  * sort, k beyond the top-k clamp, a relation that does not look like
  * an embeddings table, or an unreadable index. Predicate metadata
  * joins onto the adjacency from the base relation under
  * collision-proof names (one metadata-column shuffle join of
  * index-width rows — the "join metadata onto the adjacency" path of
  * searchIndex, never a corpus-text scan).
  */
case class HnswIndexRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  import HnswIndexRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val path = spark.conf.get(IndexKey, "")
    val ef =
      try spark.conf.get(EfKey, "0").toInt
      catch { case _: NumberFormatException => 0 }
    if (path.isEmpty || ef <= 0) return plan
    def serve(gl: GlobalLimit, k: Int, s: Sort): LogicalPlan =
      try rewrite(gl, k, s, path, ef).getOrElse(gl)
      catch {
        case e: Exception =>
          logWarning(s"HNSW rewrite skipped (falling back to exact)", e)
          gl
      }
    plan.transformDown {
      case gl @ GlobalLimit(Literal(k: Int, IntegerType),
          LocalLimit(_, s: Sort))
          if s.global && k > 0 && k <= graft.search.VectorSearch.MaxTopK =>
        serve(gl, k, s)
      // the analyzer's ORDER-BY-expression-not-in-SELECT artifact: when
      // the sort key is not projected (pgvector's verbatim `ORDER BY
      // embedding <=> $q` with `1 - <=>` in the SELECT list), analysis
      // threads it through an inner Project and DROPS it with an
      // attribute-only Project above the Sort. Pure attributes commute
      // with the splice (the rebuilt chain keeps every chain output),
      // so serve through it; anything computed up there falls back.
      case gl @ GlobalLimit(Literal(k: Int, IntegerType),
          LocalLimit(_, Project(drop, s: Sort)))
          if s.global && k > 0 && k <= graft.search.VectorSearch.MaxTopK &&
            drop.forall(_.isInstanceOf[Attribute]) =>
        serve(gl, k, s)
    }
  }

  /** The head sort key canonicalized to a [[VectorCosine]], resolved
    * through a child Project's alias when it is an attribute. Three
    * servable spellings, all RANKING identically:
    *   - `cosine DESC` — the reference's similarity form;
    *   - `(1.0 - cosine) ASC` — the verbatim pgvector port (`ORDER BY
    *     embedding <=> $q`, retrieval/search.py:111-112) after constant
    *     folding; 1−x is strictly monotone decreasing, so distance-ASC
    *     ranks as cosine-DESC (ties are NOT identical — see the
    *     non-injectivity note below, which is why the user's own key
    *     stays the final sort key);
    *   - `vector_cosine_distance(...) ASC` — the named `<=>` function.
    * Remaining sort keys must be ascending attributes named like the id
    * tie-break (or absent) — validated against the LEAF's actual
    * attribute by exprId in [[rewrite]], since a projected alias that
    * merely shares the name orders differently.
    *
    * Returns (walk cosine, user's head expression, user's direction):
    * the WALK ranks by the canonical cosine, but the spliced plan's
    * final sort re-evaluates the user's own key in the user's own
    * direction over the k base rows — `1.0 - x` is monotone but not
    * injective in doubles (near-zero cosines collapse), so re-sorting a
    * distance query by the cosine could break the user's exact tie
    * ordering at the epsilon floor.
    */
  private def cosineOf(s: Sort, idCol: String)
      : Option[(VectorCosine, Expression, SortDirection)] = {
    val tailOk = s.order.tail.forall {
      case SortOrder(a: Attribute, dir, _, _) =>
        a.name == idCol && dir != Descending
      case _ => false
    }
    if (!tailOk) return None
    // the direction-aware canonicalizer is the SHARED CosineOrder
    // helper (one copy with AnnProbeRewrite): DESC serves similarity
    // shapes, ASC serves distance shapes; any other (form, direction)
    // pairing orders ascending-by-similarity and must NOT be served
    // top-k. Null ordering needs no gate here, unlike the IVF rule's
    // scan-narrowing: a NULL vector cannot exist behind a servable
    // index — buildIndexTable deserializes every row's vector into the
    // shard build, which fails loudly on null — so NULL distances never
    // arise in the relation the walk replaces (pgvector's stance too:
    // NULLs are not indexed, and Postgres' ASC default is NULLS LAST).
    s.order.headOption.flatMap {
      case SortOrder(a: Attribute, dir, _, _) =>
        // explicit re-entry guard: the spliced plan's own final sort
        // orders by the ExactSimCol attribute — resolving it through
        // kPlan's Alias(VectorCosine) here would re-enter rewrite() on
        // our own output (it would then bail on shapeOf's join, but
        // the invariant must not hinge on that shape detail)
        if (a.name == ExactSimCol) None
        else s.child.collect { case p: Project => p }
          .flatMap(_.projectList.collectFirst {
            case al: Alias if al.exprId == a.exprId => al.child
          })
          .headOption
          .flatMap(e => CosineOrder.canonical(e, dir).map(c => (c, e, dir)))
      case SortOrder(e, dir, _, _) =>
        CosineOrder.canonical(e, dir).map(c => (c, e, dir))
    }
  }

  private def queryVec(c: VectorCosine): Option[Array[Float]] =
    Seq(c.right, c.left).collectFirst {
      case Literal(arr: ArrayData, ArrayType(FloatType, _)) =>
        arr.toFloatArray()
    }

  /** The cosine's NON-literal operand — the rewrite may only fire when
    * it is exactly the indexed relation's `vector` attribute; a cosine
    * over any other column or computed expression is not what the
    * persisted graph ranks by. */
  private def rankedAttr(c: VectorCosine): Option[Attribute] =
    Seq(c.left, c.right).collectFirst { case a: Attribute => a }

  /** Project/Filter-only path from the sort child to a single leaf:
    * (conjunction of filter conditions, leaf). Any other operator means
    * the query is not a plain filtered KNN over one relation — bail.
    */
  private def shapeOf(p: LogicalPlan)
      : Option[(Seq[Expression], LogicalPlan)] = p match {
    case Project(_, c) => shapeOf(c)
    case Filter(cond, c) =>
      shapeOf(c).map { case (cs, l) => (cond +: cs, l) }
    case leaf if leaf.children.isEmpty => Some((Nil, leaf))
    case _ => None
  }

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def rewrite(gl: GlobalLimit, k: Int, s: Sort, path: String,
      ef: Int): Option[LogicalPlan] = {
    val idCol = "fragment_id"
    for {
      (cos, userHead, userDir) <- cosineOf(s, idCol)
      qv <- queryVec(cos)
      (conds, leaf) <- shapeOf(s.child)
      if !leaf.isStreaming
      // tie-break keys must be the LEAF's id attribute — a projected
      // alias that merely shares the name orders by different values
      if s.order.tail.forall {
        case SortOrder(a: Attribute, _, _, _) =>
          leaf.output.exists(_.exprId == a.exprId)
        case _ => false
      }
      // an embeddings-table leaf, not an IVF/HNSW index table (those
      // have their own access paths) and not our own spliced output
      if leaf.output.exists(a => a.name == idCol &&
        a.dataType == StringType)
      if leaf.output.exists(a => a.name == "vector" &&
        isFloatArray(a.dataType))
      if !leaf.output.exists(a => a.name == "list_id" || a.name == "links")
      // the k-row rebind maps attributes by NAME (analysis may
      // deduplicate exprIds) — only sound when leaf names are unique
      if leaf.output.map(_.name).distinct.size == leaf.output.size
      // the ranked operand must BE the leaf's `vector` attribute — a
      // cosine over another column or a computed expression is not
      // what the persisted graph ranks by
      if rankedAttr(cos).exists(a => a.name == "vector" &&
        leaf.output.exists(_.exprId == a.exprId))
      // the user's projections re-evaluate over the k joined rows, so
      // they must be deterministic (the walk changes which rows they
      // see) — same reason the predicates must be
      if s.child.collect { case p: Project => p }
        .forall(_.projectList.forall(_.deterministic))
      // predicates must be deterministic metadata-only: a predicate on
      // the id or the vector bytes is not a metadata filter, and a
      // nondeterministic one must not evaluate on a different row set
      if conds.forall(c => c.deterministic &&
        c.references.forall(r => r.name != idCol && r.name != "vector" &&
          leaf.output.exists(_.exprId == r.exprId)))
    } yield {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      // fresh relation per firing: a cached DataFrame would pin the
      // parquet FILE LISTING of its first read, so a rebuilt index at
      // the same path would fail at execution (outside this rule's
      // fallback) instead of being picked up
      val adj = session.read.parquet(path)
      val base = org.apache.spark.sql.classic.Dataset.ofRows(session, leaf)
      val predNames = conds.flatMap(_.references.toSeq.map(_.name)).distinct
      // predicate metadata ALWAYS joins on from the base relation under
      // collision-proof names — the adjacency's own columns (shard_id,
      // node_idx, doc_id, …) must never shadow a base column the
      // predicate meant (same-named metadata would otherwise filter on
      // index internals). LEFT join: every node must stay for graph
      // navigation; a null predicate value is "not eligible"
      // (searchIndex coalesces to false), matching SQL WHERE semantics.
      val metaName = predNames.zipWithIndex
        .map { case (n, i) => n -> s"${MetaCol}$i" }.toMap
      val predOpt = conds.reduceOption(
        org.apache.spark.sql.catalyst.expressions.And).map { cond =>
        ExpressionUtils.column(cond.transform {
          case a: Attribute => UnresolvedAttribute.quoted(metaName(a.name))
        })
      }
      val enriched =
        if (predNames.isEmpty) adj
        else {
          val meta = base.select(col(idCol).as(MetaIdCol) +:
            predNames.map(n => col(n).as(metaName(n))): _*)
          adj.join(meta, adj(idCol) === col(MetaIdCol), "left")
            .drop(MetaIdCol)
        }
      // ROUTED layouts serve routed (VERDICT r14 task 2b): when the
      // index carries a router sidecar, the walk prunes to the query's
      // probeCells nearest cells instead of fanning out to every shard
      // — at 800 shards the all-shard fan-out is exactly the wave-bound
      // walk the routed layout was built to kill, and serving through
      // this rule must not re-create it. probeCells ≥ router.k (or a
      // non-positive conf) degenerates to the full fan-out; the stamped
      // router_hash guard rides inside searchIndexRouted.
      val routerPath = s"$path.router.txt"
      val router =
        if (new java.io.File(routerPath).isFile)
          Some(graft.search.Ivf.load(routerPath))
        else None
      val probeCells = HnswIndexRewrite.probeCells(spark)
      logInfo(s"HNSW rewrite: serving top-$k (ef=$ef" +
        predOpt.map(_ => ", filtered").getOrElse("") +
        router.map(r => s", routed R=${math.min(probeCells, r.k)}/${r.k}")
          .getOrElse("") + s") from $path")
      val hits = router match {
        case Some(r) =>
          // a routed table may be REPLICATED, so even the full fan-out
          // (probeCells ≤ 0 or ≥ k) must go through the routed walk —
          // plain searchIndex would return each replica as its own hit
          val cells =
            if (probeCells <= 0) r.k else math.min(probeCells, r.k)
          graft.search.Hnsw.searchIndexRouted(enriched, Seq(("q", qv)),
            k, ef, r, cells, idCol, predOpt)
        case None => graft.search.Hnsw.searchIndex(
          enriched, Seq(("q", qv)), k, ef, idCol, predOpt)
      }
      // index↔table binding: post-r11 index tables stamp vec_hash per
      // node (the raw source vector's content hash), and searchIndex
      // emits it beside each hit FROM THE ROWS THE WALK ALREADY READ —
      // zero extra I/O — so the splice can verify each served base row
      // IS the row the node was built from. Legacy tables without the
      // column yield NULL hashes, which the guard passes through.
      val hasVh = adj.schema.fieldNames.contains("vec_hash")
      val walkKeyed = hits
        .orderBy(col("similarity").desc, col(idCol))
        .limit(k)
        .select(col(idCol) +:
          (if (hasVh) Seq(col("vec_hash").as(VecHashCol)) else Nil): _*)
      // the walk selects MEMBERSHIP only; every value the user asked
      // for — including the final ordering key — is the user's exact
      // expression computed over the k base rows fetched by a
      // broadcast join (pgvector's contract: the index narrows, the
      // SELECT list and ORDER BY evaluate on the heap tuple). Ordering
      // by the walk's normalized-dot score instead would let displayed
      // similarities appear out of order on near-ties.
      // Column pruning is manual: this rule runs AFTER ColumnPruning,
      // so the spliced scan must project only what the user's chain
      // (plus the id and the ranked vector) actually references.
      val idAttr = leaf.output.find(_.name == idCol).get
      val vecAttr = leaf.output.find(_.name == "vector").get
      val neededIds = (s.child.collect {
        case p: Project => p.projectList.flatMap(_.references.toSeq)
        case f: Filter => f.condition.references.toSeq
      }.flatten.map(_.exprId) ++ gl.output.map(_.exprId) ++
        Seq(idAttr.exprId, vecAttr.exprId)).toSet
      val needed = leaf.output.filter(a => neededIds.contains(a.exprId))
      val kRows = base.select(needed.map(a => col(a.name)): _*)
        .join(org.apache.spark.sql.functions.broadcast(walkKeyed), idCol)
      // splice the OPTIMIZED inner plan: the main optimizer batches ran
      // before this rule, so an analyzed subtree would reach physical
      // planning with un-eliminated analysis artifacts (join hints);
      // nested optimization is bounded — cosineOf explicitly refuses an
      // ExactSimCol head attribute, so transformDown cannot re-enter
      // rewrite() on the spliced shape. Analysis may have deduplicated
      // the base relation's exprIds (it appears in the walk's metadata
      // join too), so rebind the needed attributes BY NAME — unique
      // within one parquet relation — back onto their original exprIds,
      // and compute the user's EXACT head sort expression alongside as
      // the final ordering key (their cosine OR their distance — not
      // the canonicalized cosine: 1−x is not injective in doubles, so
      // substituting keys could re-tie rows at the epsilon floor).
      val kOpt = kRows.queryExecution.optimizedPlan
      val kByName = kOpt.output.map(a => a.name -> a).toMap
      // index↔table binding guard over the k served rows: the base
      // row's raw vector must hash (raw-bits FNV, Hnsw.contentHash —
      // deliberately NO normalization, see normHash's doc)
      // to the node's stored vec_hash, or the configured index was
      // built over DIFFERENT data — stale, or another table with the
      // same ids — and serving would silently mis-rank. Hard error
      // instead (the ivf_q_hash contract extended to row content);
      // legacy rows with a NULL hash pass unchecked. Cost: k
      // interpreted hash evals, off the corpus path.
      val guarded =
        if (!hasVh) kOpt
        else {
          val vh = kByName(VecHashCol)
          Filter(If(
            Or(IsNull(vh),
              EqualTo(HnswVectorHash(kByName("vector")), vh)),
            Literal(true),
            IsNull(new RaiseError(Literal(
              s"hnsw vec_hash mismatch: the index at $path was not " +
                "built over the scanned relation — refusing to serve " +
                "from it")))), kOpt)
        }
      val exactSim = Alias(userHead.transform {
        case a: Attribute if a.exprId == vecAttr.exprId =>
          kByName("vector")
      }, ExactSimCol)()
      val kPlan = Project(
        needed.map(a => Alias(kByName(a.name), a.name)(
          exprId = a.exprId)) :+ exactSim, guarded)
      val simRef = kPlan.output.find(_.name == ExactSimCol).get
      // re-apply the user's own Project/Filter chain over the k rows,
      // threading the ordering keys through every Project
      def rebuild(p: LogicalPlan): LogicalPlan = p match {
        case pr: Project =>
          val extra = Seq(simRef, idAttr).filterNot(a =>
            pr.projectList.exists(_.exprId == a.exprId))
          Project(pr.projectList ++ extra, rebuild(pr.child))
        case f: Filter => Filter(f.condition, rebuild(f.child))
        case l if l eq leaf => kPlan
        case other => other // unreachable: shapeOf admitted the chain
      }
      val rebuilt = rebuild(s.child)
      val sorted = Sort(Seq(
        SortOrder(simRef, userDir),
        SortOrder(idAttr, Ascending)), global = true, rebuilt)
      val limited = GlobalLimit(Literal(k),
        LocalLimit(Literal(k), sorted))
      // original exprIds flow through untouched (the chain reuses the
      // user's own NamedExpressions), so parents resolve unchanged
      Project(gl.output, limited)
    }
  }
}

object HnswIndexRewrite {

  val IndexKey = "spark.graft.ann.hnsw.index"
  val EfKey = "spark.graft.ann.hnsw.ef"
  /** Routed layouts only: cells probed per query (≥ router.k or ≤ 0 ⇒
    * full fan-out). The default matches the soak-validated production
    * knob (R=6 at replicas=3). */
  val ProbeCellsKey = "spark.graft.ann.hnsw.probeCells"
  val DefaultProbeCells = 6

  /** The session's [[ProbeCellsKey]]; unset or unparsable reads as
    * [[DefaultProbeCells]]. */
  def probeCells(spark: SparkSession): Int =
    try spark.conf.get(ProbeCellsKey, DefaultProbeCells.toString).toInt
    catch { case _: NumberFormatException => DefaultProbeCells }

  private val MetaIdCol = "__graft_hnsw_meta_id"
  private val MetaCol = "__graft_hnsw_meta_"
  private val ExactSimCol = "__graft_hnsw_exact_sim"
  private val VecHashCol = "__graft_hnsw_vh"
}
