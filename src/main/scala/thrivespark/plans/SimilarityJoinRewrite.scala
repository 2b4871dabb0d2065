package thrivespark.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, HintInfo, Join, LogicalPlan, Project, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
import thrivespark.functions.VecDot

/** Optimizer rewrite for naive similarity joins (SURVEY.md §4 custom
  * candidate 1): a join whose only cross-side predicate is
  * `vec_dot(a, b) > τ` would plan as a CartesianProduct /
  * BroadcastNestedLoopJoin — the driver-killing shape at any real corpus
  * size. This rule injects an EXACT k-D projection blocking:
  *
  * For L2-normalized vectors, dot(a,b) > τ  ⟹  ‖a−b‖ < √(2−2τ), and for
  * any fixed probe vector u with ‖u‖ ≤ 1, Cauchy–Schwarz gives
  * |⟨a,u⟩ − ⟨b,u⟩| ≤ ‖a−b‖ < w. Bucketing each projection ⟨·,uᵢ⟩ into
  * width-w intervals therefore puts every qualifying pair in the same or
  * adjacent bucket PER PROJECTION — so joining on equality of the packed
  * k-tuple of floors, with a 3^k-probe neighbor expansion of one side, and
  * keeping the ORIGINAL predicate as the verify filter, is
  * semantics-preserving (recall 1 by the per-projection bound, precision by
  * the kept filter). The physical plan becomes a shuffled equi-join on the
  * packed bucket key: no pair-space materialization on the driver,
  * partitioned shuffle, AQE/skew handling all apply.
  *
  * k independent SEEDED pseudo-random unit projections (k = 3) multiply
  * pruning power: a non-qualifying pair survives only if it collides on
  * EVERY projection, so the candidate fraction is the product of the
  * per-projection collision rates — and random directions decorrelate the
  * buckets from any data-mean alignment a fixed all-positive probe would
  * suffer (the hot-bucket/shuffle-skew hazard).
  *
  * Pruning regime, measured on the 64-dim test embeddings (PlanSpec):
  * projections of isotropic unit vectors concentrate as ~N(0, 1/64) per
  * coordinate (total spread ≈ 0.75), so buckets thin the pair space only
  * once w < ~0.3, i.e. τ ≳ 0.95 — the actual near-dup regime, where at
  * τ=0.99 three projections admit 45% of all pairs vs a single
  * projection's 77%. Below that (e.g. τ=0.45) the recall-1 width exceeds
  * the whole projection spread and NO projection count can prune — there
  * the rewrite's whole value is the plan shape: a shuffled equi-join,
  * never a cartesian. The projection count is therefore chosen FROM τ
  * (projectionsFor): k = 3 where buckets can prune, k = 1 where they
  * cannot — because each extra projection also multiplies the probe
  * expansion by 3, and paying 27× row fan-out for zero pruning turns the
  * degenerate one-bucket join into a 9× slowdown (measured at τ=0.45,
  * sf0.1: 25 s vs 2 s). In that k = 1 regime the packed key takes ~2
  * values, so the verify's parallelism has to come from the plan, not
  * from the data: the rule always spreads it over a deterministic P×Q
  * salt grid (see saltSide) and, unless the user's join names a strategy,
  * pins the join to a shuffle merge.
  *
  * The rewritten join condition checks the user's cheap conjuncts (here
  * `a_id < b_id`) before the vec_dot one, so And's short-circuit skips the
  * kernel on every pair they reject; with a nondeterministic conjunct the
  * user's order is kept.
  *
  * Precondition (the Similarity module's standing contract): vectors are
  * L2-normalized, so vec_dot ≡ cosine. The rule leaves joins that already
  * carry an equi-conjunct untouched (they plan fine natively) — which also
  * makes the rewrite idempotent, since the rewritten join carries one.
  */
object SimilarityJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Probe length; on shorter vectors VecDot stops at min length, which only
    * shrinks ‖u‖ below 1 and loosens (never breaks) the bound. */
  private val Dim = 64

  /** Max independent projections; probes per left row = 3^k. */
  val NumProjections = 3

  /** Projection count for a threshold: multiple projections only where the
    * bucket width sits below the ~N(0, 1/64) projection spread of
    * isotropic unit vectors (w < 0.35 ⟺ τ ≳ 0.94) — elsewhere buckets
    * cannot prune and extra probes are pure fan-out (see scaladoc). */
  def projectionsFor(tau: Double): Int =
    if (width(tau) < 0.35) NumProjections else 1

  /** Bucket values are bounded by |⟨v,u⟩|/w ≤ 1/w; pack base 2^20 covers
    * τ up to 1 − 2⁻³⁹ and 3 coordinates fit a Long (2^60 < 2^63). */
  private val PackBase = 1L << 20
  private val PackOffset = PackBase / 2

  /** Grid-salt side length for the degenerate (k = 1) regime. Where
    * buckets cannot prune, the packed key takes ~2 values (|⟨v,u⟩| ≤ 1 and
    * w > 1 force every floor into {-1, 0}), so a plain equi-join
    * hash-partitions the ENTIRE pair space into one or two tasks: a
    * single-key skew no AQE skew split can break (one enormous key), plus
    * an SMJ that buffers a whole side per key. The fix is a P×Q salt grid:
    * each left row gets a deterministic salt i = pmod(xxhash64(vec), P) and
    * fans out its probe keys × Q (one per j); each right row gets
    * j = pmod(xxhash64(vec), Q) and fans out × P (one per i). A pair (a, b)
    * matches in exactly one cell (i = salt(a), j = salt(b)), so results are
    * unchanged while the pair-space work spreads over P·Q·buckets keys —
    * replication is √cells per side (vs ×cells for a one-sided salt).
    * Deterministic salts (hash of the vector, not rand()) keep task retries
    * consistent (SPARK-38388). The grid has ~4 × shuffle-partitions cells,
    * so it scales with the cluster, not with a local-mode constant.
    *
    * Invariant: in this regime parallelism comes from the grid, never from
    * the scan layout. The grid applies at every input size, and the join
    * gets a shuffle-merge hint unless the user's join carries a strategy
    * hint of its own. A size-based broadcast would plan the verify as a
    * BroadcastHashJoin whose parallelism is the probe scan's partition
    * count — one task when a side is a single row group, running the whole
    * N² verify on one core. A user's hint is kept as given.
    *
    * Left as is: a global sort above the join (sim_join_rewrite's orderBy)
    * samples its range bounds by running the whole verify a second time. */
  private def saltSide(conf: SQLConf): Int =
    math.min(1 << 10, math.ceil(math.sqrt(4.0 * conf.numShufflePartitions)).toInt)

  /** Deterministic seeded Gaussian directions, L2-normalized (‖u‖ = 1). */
  val probeVectors: Array[Array[Float]] = {
    val rnd = new scala.util.Random(20260812L)
    Array.fill(NumProjections) {
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  /** Bucket width for threshold τ: widened by 1e-7 so adjacent-bucket
    * probing survives IEEE rounding of the two quotients (a boundary pair
    * must still land ≤ 1 apart). */
  def width(tau: Double): Double = math.sqrt(2.0 - 2.0 * tau) * 1.0000001

  private def bucketExpr(e: Expression, u: Array[Float], w: Double): Expression =
    // containsNull=false: probe vectors are dense literals, and since the
    // vec_dot kernels honor element nullability (r19) a default
    // containsNull=true literal would put a per-element null-bit test in
    // every projection's codegen loop (measured ~1 s at sf0.1 on this op)
    Floor(Divide(
      VecDot(e, Literal.create(u, ArrayType(FloatType, containsNull = false))),
      Literal(w)))

  /** Packs k (bucket + offset) coordinates into one Long key. */
  private def packExpr(coords: Seq[Expression]): Expression =
    coords.reduceLeft[Expression]((acc, c) =>
      Add(Multiply(acc, Literal(PackBase)), c))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, jt, Some(cond), hint) if jt == Inner || jt == Cross =>
      val conjuncts = splitConjunctivePredicates(cond)
      val hasEqui = conjuncts.exists {
        case EqualTo(x, y) =>
          (x.references.subsetOf(left.outputSet) && y.references.subsetOf(right.outputSet)) ||
          (x.references.subsetOf(right.outputSet) && y.references.subsetOf(left.outputSet))
        case _ => false
      }
      val sim = conjuncts.collectFirst {
        case GreaterThan(VecDot(a, b), Literal(tau: Double, DoubleType))
            if tau > -1.0 && tau < 1.0 && a.references.nonEmpty && b.references.nonEmpty &&
               ((a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
                (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))) =>
          if (a.references.subsetOf(left.outputSet)) (a, b, tau) else (b, a, tau)
      }
      if (hasEqui || sim.isEmpty) j
      else {
        val (la, rb, tau) = sim.get
        val w = width(tau)
        val k = projectionsFor(tau)
        // grid salt exactly where buckets cannot prune (see saltSide)
        val salt = if (k == 1) saltSide(conf) else 0
        val saltL = Literal(salt.toLong)
        // right side: one packed key per row; when salting, × P grid rows
        // via an exploded LITERAL index array (constant-folds to one array
        // literal — a non-foldable N-expression CreateArray was a measured
        // codegen cliff at N ≈ 36) and key = (packed·P + i)·Q + salt_r
        val rCoords = probeVectors.take(k).toSeq.map(u =>
          Add(bucketExpr(rb, u, w), Literal(PackOffset)))
        val (rightB, rAttr) =
          if (salt == 0) {
            val rAlias = Alias(packExpr(rCoords), "__sim_bucket_r")()
            (Project(right.output :+ rAlias, right), rAlias.toAttribute)
          } else {
            val rBase = Alias(packExpr(rCoords), "__sim_bucket_rbase")()
            val rSalt = Alias(Pmod(XxHash64(Seq(rb), 20260819L), saltL),
              "__sim_salt_r")()
            val rightP = Project(right.output :+ rBase :+ rSalt, right)
            val iAttr = AttributeReference("__sim_grid_i", LongType, nullable = false)()
            val rightG = Generate(
              Explode(CreateArray((0L until salt.toLong).map(Literal(_)))),
              Nil, outer = false, None, Seq(iAttr), rightP)
            val rKey = Alias(Add(Multiply(Add(Multiply(rBase.toAttribute, saltL),
              iAttr), saltL), rSalt.toAttribute), "__sim_bucket_r")()
            (Project(right.output :+ rKey, rightG), rKey.toAttribute)
          }
        // left side: compute the k floors ONCE in a Project, then explode
        // the 3^k neighbor-offset keys above it; when salting, a second
        // explode over the literal grid indices and
        // key = (packed·P + salt_l)·Q + j
        val lFloorAliases = probeVectors.take(k).toSeq.zipWithIndex.map { case (u, i) =>
          Alias(bucketExpr(la, u, w), s"__sim_floor_$i")()
        }
        val lSaltAlias =
          if (salt == 0) None
          else Some(Alias(Pmod(XxHash64(Seq(la), 20260818L), saltL),
            "__sim_salt_l")())
        val leftF = Project(left.output ++ lFloorAliases ++ lSaltAlias, left)
        val offsets = Seq.fill(k)(Seq(-1L, 0L, 1L))
          .foldLeft(Seq(Seq.empty[Long]))((acc, os) =>
            acc.flatMap(pfx => os.map(o => pfx :+ o)))
        val baseKeys = offsets.map { off =>
          packExpr(lFloorAliases.zip(off).map { case (fa, o) =>
            Add(Add(fa.toAttribute, Literal(o)), Literal(PackOffset))
          })
        }
        val lAttr = AttributeReference("__sim_bucket_l", LongType)()
        val (leftG, lKeyAttr) = lSaltAlias match {
          case None =>
            (Generate(Explode(CreateArray(baseKeys)), Nil,
              outer = false, None, Seq(lAttr), leftF), lAttr)
          case Some(sl) =>
            val baseAttr = AttributeReference("__sim_base_l", LongType)()
            val g1 = Generate(Explode(CreateArray(baseKeys)), Nil,
              outer = false, None, Seq(baseAttr), leftF)
            val jAttr = AttributeReference("__sim_grid_j", LongType, nullable = false)()
            val g2 = Generate(
              Explode(CreateArray((0L until salt.toLong).map(Literal(_)))),
              Nil, outer = false, None, Seq(jAttr), g1)
            val lKey = Alias(Add(Multiply(Add(Multiply(baseAttr, saltL),
              sl.toAttribute), saltL), jAttr), "__sim_bucket_l")()
            (Project(left.output :+ lKey, g2), lKey.toAttribute)
        }
        val verify =
          if (conjuncts.forall(_.deterministic)) {
            val (kernel, cheap) = conjuncts.partition(_.exists(_.isInstanceOf[VecDot]))
            (cheap ++ kernel).reduceLeft(And)
          } else cond
        val userStrategy =
          (hint.leftHint ++ hint.rightHint).exists(_.strategy.isDefined)
        val newHint =
          if (salt == 0 || userStrategy) hint
          else hint.copy(leftHint = Some(HintInfo(strategy = Some(SHUFFLE_MERGE))))
        val newJoin = Join(leftG, rightB, Inner,
          Some(And(EqualTo(lKeyAttr, rAttr), verify)), newHint)
        Project(j.output, newJoin)
      }
  }
}
