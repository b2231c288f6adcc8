// In the spark.sql namespace with the other graft Catalyst pieces: the
// rule pattern-matches our own VectorCosine expression class directly.
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualNullSafe, EqualTo, If, In, InSet, IsNull, Literal, NullOrdering, NullsFirst, Or, RaiseError, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}

/** Index-accelerated KNN as a Catalyst optimizer rule — the Spark analog
  * of pgvector turning `ORDER BY embedding <=> $q LIMIT k` into an index
  * scan (the reference's whole query engine rides on that rewrite,
  * retrieval/search.py:99-124: the SQL text stays exact-looking, the
  * planner substitutes the approximate index walk).
  *
  * Here the same contract: a top-k-by-descending-[[VectorCosine]] plan
  * (`TakeOrderedAndProject` shape) over a relation that carries an IVF
  * `list_id` column is narrowed to the `nprobe` lists nearest the query
  * vector — an `In` filter injected at the relation leaf, which predicate
  * pushdown turns into partition pruning at the parquet source. Top-k
  * then re-ranks the probed lists with the exact cosine, so results are
  * identical to [[graft.search.Ivf.search]] at the same nprobe.
  *
  * Explicitly opt-in, because the rewrite trades recall for scan volume:
  *
  *   spark.conf.set("spark.graft.ann.quantizer", "<ivf_quantizer.txt>")
  *   spark.conf.set("spark.graft.ann.nprobe", "4")   // 0 disables
  *
  * (pgvector gates the same way: no index or `enable_indexscan=off` means
  * exact scan; `ivfflat.probes` tunes recall.) Guards: the sort key must
  * be a descending cosine against a float-array literal of the trained
  * dimension, exactly one leaf relation may expose `list_id`, and a plan
  * already carrying a `list_id` IN-filter (either from a prior firing —
  * the rule runs inside a fixpoint batch — or from an explicit
  * [[graft.search.Ivf.search]] call) is left alone.
  */
case class AnnProbeRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  import AnnProbeRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val qPath = spark.conf.get(QuantizerKey, "")
    val nprobe =
      try spark.conf.get(NprobeKey, "0").toInt
      catch { case _: NumberFormatException => 0 }
    if (qPath.isEmpty || nprobe <= 0) return plan
    val quant =
      try quantizer(spark, qPath)
      catch {
        case e: Exception =>
          logWarning(s"$QuantizerKey=$qPath unreadable; ANN rewrite off", e)
          return plan
      }
    plan.transformDown {
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, s: Sort)) if s.global =>
        rewrite(s, quant, nprobe)
          .map(ns => gl.copy(child = ll.copy(child = ns)))
          .getOrElse(gl)
      // the analyzer's ORDER-BY-expression-not-in-SELECT artifact (the
      // verbatim pgvector distance text): an attribute-only drop-Project
      // sits above the Sort; the probe filter lands below it unchanged
      case gl @ GlobalLimit(_, ll @ LocalLimit(_,
          pr @ Project(drop, s: Sort)))
          if s.global && drop.forall(_.isInstanceOf[Attribute]) =>
        rewrite(s, quant, nprobe)
          .map(ns => gl.copy(child = ll.copy(child = pr.copy(child = ns))))
          .getOrElse(gl)
    }
  }

  /** The head sort key canonicalized to a [[VectorCosine]] (ONE shared
    * canonicalizer, [[CosineOrder.canonical]] — also the HNSW rule's),
    * resolved through a child Project's alias when the query sorts on a
    * named column. Both the similarity form (`cosine DESC`) and
    * pgvector's literal distance form (`(1 - cosine) ASC`, which is also
    * what the `vector_cosine_distance` function expands to) prune — the
    * rule only narrows the scan, so the user's own ordering key and
    * direction stay untouched either way. Any other (form, direction)
    * pairing is a worst-first query and must not be pruned top-k.
    * The head key's null ordering rides along: [[rewrite]] must keep the
    * null `list_id` partition alive when NULL distances rank FIRST.
    */
  private def cosineOf(s: Sort): Option[(VectorCosine, NullOrdering)] =
    s.order.headOption.flatMap {
      case SortOrder(a: Attribute, dir, nullOrd, _) =>
        s.child.collect { case p: Project => p }
          .flatMap(_.projectList.collectFirst {
            case al: Alias if al.exprId == a.exprId => al.child
          })
          .headOption
          .flatMap(CosineOrder.canonical(_, dir))
          .map((_, nullOrd))
      case SortOrder(e, dir, nullOrd, _) =>
        CosineOrder.canonical(e, dir).map((_, nullOrd))
    }

  private def queryVec(c: VectorCosine): Option[Array[Float]] =
    Seq(c.right, c.left).collectFirst {
      case Literal(arr: ArrayData, ArrayType(FloatType, _)) => arr.toFloatArray()
    }

  /** Already narrowed (by this rule on a prior fixpoint iteration, or by
    * an explicit probe filter) — firing again would stack filters and the
    * batch would never converge. The rule runs inside the operator-
    * optimization fixpoint, where OptimizeIn rewrites our injected
    * `In(list_id, …)` to `EqualTo` (one probe) or `InSet` (many probes),
    * so all three shapes must count as pruned.
    */
  private def alreadyPruned(p: LogicalPlan): Boolean =
    p.exists {
      case f: Filter => f.condition.exists {
        case In(a: Attribute, _) if a.name == "list_id" => true
        case InSet(a: Attribute, _) if a.name == "list_id" => true
        case EqualTo(a: Attribute, _: Literal) if a.name == "list_id" => true
        case EqualTo(_: Literal, a: Attribute) if a.name == "list_id" => true
        case EqualNullSafe(a: Attribute, _: Literal) if a.name == "list_id" => true
        case _ => false
      }
      case _ => false
    }

  private def rewrite(s: Sort, q: graft.search.Ivf.Quantizer,
      nprobe: Int): Option[Sort] = {
    val leaves = s.child.collect {
      case l if l.children.isEmpty &&
        l.output.exists(a => a.name == "list_id" &&
          a.dataType == IntegerType) => l
    }
    for {
      (cos, nullOrd) <- cosineOf(s)
      qv <- queryVec(cos)
      if qv.length == q.dim
      if !alreadyPruned(s.child)
      if leaves.size == 1
    } yield {
      val leaf = leaves.head
      val listAttr = leaf.output.find(_.name == "list_id").get
      val lists = graft.search.Ivf.nearestLists(qv, q, nprobe)
      logInfo(s"ANN rewrite: pruning to lists ${lists.mkString(",")} " +
        s"(nprobe=$nprobe of ${q.k})")
      // Quantizer fingerprint guard: an index built with a DIFFERENT
      // quantizer than the configured sidecar would be silently mis-pruned
      // (list geometry disagrees). Indexes stamp Ivf.contentHash into a
      // constant ivf_q_hash column; when the leaf exposes it, inject a
      // per-row check that hard-errors on mismatch (same contract as the
      // pq_cb_hash verification in the CLI). Cheap: one long-equality on a
      // dictionary-constant column, only over the probed lists.
      // Null ordering: when NULL distances rank FIRST (Spark's default
      // for the ascending distance text), a NULL-vector row outranks
      // every real match in the exact scan — and `In` evaluates NULL on
      // it, silently dropping the rows the exact ordering puts first.
      // IvfAssign is null-safe (NULL vector ⇒ NULL list_id ⇒ the null
      // partition), so keeping those rows is one extra partition-pruning
      // disjunct over the same partition column — free when the table
      // has no null partition. Under NULLS LAST (both defaults' other
      // half) a dropped null could only have surfaced when the probed
      // lists hold fewer than k rows — the documented lost-recall trade.
      val inLists = In(listAttr, lists.map(i => Literal(i)))
      val pruneCond =
        if (nullOrd == NullsFirst && cos.nullable) Or(inLists, IsNull(listAttr))
        else inLists
      val cond = leaf.output.find(a =>
          a.name == "ivf_q_hash" && a.dataType == LongType) match {
        case Some(hashAttr) =>
          val want = Literal(graft.search.Ivf.contentHash(q))
          val guard = If(EqualTo(hashAttr, want), Literal(true),
            IsNull(new RaiseError(Literal(
              s"ivf_q_hash mismatch: index was not built with the quantizer " +
                s"at $QuantizerKey — refusing approximate probe pruning"))))
          And(pruneCond, guard)
        case None => pruneCond
      }
      val probed = Filter(cond, leaf)
      s.copy(child = s.child.transformUp {
        case l if l eq leaf => probed
      })
    }
  }
}

object AnnProbeRewrite {

  val QuantizerKey = "spark.graft.ann.quantizer"
  val NprobeKey = "spark.graft.ann.nprobe"

  /** The sidecar's parsed quantizer, memoized in `spark`'s
    * [[graft.queries.StageCache]] slot under an (mtime, size)
    * fingerprint: the rule fires per query compilation, the sidecar
    * parse should not. mtime alone is not a safe freshness key —
    * filesystem mtime granularity can be a full second, so a sidecar
    * rewritten twice within one tick would keep serving the stale parse;
    * size breaks the tie for any content change that moves a byte count
    * (and a same-size same-mtime rewrite is caught by the ivf_q_hash
    * runtime guard above).
    */
  private[graft] def quantizer(spark: SparkSession,
      path: String): graft.search.Ivf.Quantizer = {
    val p = java.nio.file.Paths.get(path)
    val stamp = s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}:" +
      java.nio.file.Files.size(p)
    graft.queries.StageCache.memo(spark, s"ann_quantizer:$path", stamp)(
      graft.search.Ivf.load(path))
  }
}
