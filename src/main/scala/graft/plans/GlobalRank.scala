package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, CumeDist, DenseRank, Descending, Expression, GenericInternalRow, JoinedRow, Lag, Lead, Literal, NamedExpression, PercentRank, Rank, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Which global ranking function the native operator computes. All three
  * share the same physical shape (one range exchange + one shuffle-read
  * summary pass); the tie-aware modes add only per-partition boundary-key
  * summaries and a driver-side fixup over `numPartitions` entries.
  */
sealed trait RankMode
object RankMode {
  /** 1,2,3,… in sort order; boundary ties split arbitrarily (pass a
    * total order for determinism), exactly like Spark's row_number. */
  case object RowNumber extends RankMode
  /** Competition rank: 1,1,3 — ties share the rank of their first row. */
  case object Rank extends RankMode
  /** Dense rank: 1,1,2 — ties share, no gaps. */
  case object DenseRank extends RankMode
  /** DOUBLED fractional average rank: 2·avg_rank = 2·first_rank +
    * (tie_group_size − 1), an exact integer — the rank statistics
    * (Spearman/Mann-Whitney/Kruskal-Wallis) primitive, in ONE pass where
    * the rank_asc + rank_desc composition needs two. The map pass
    * buffers one tie group at a time (bounded by the partition slice —
    * strictly tighter than WindowExec's whole-partition buffer); group
    * sizes spanning partition boundaries are repaired from the same
    * driver-side summaries as [[Rank]] (rows behind the head run, plus
    * the symmetric rows ahead of the tail run). */
  case object AvgRankX2 extends RankMode
  /** Spark-exact ntile(k): the first n%k buckets take ⌈n/k⌉ rows, the
    * rest ⌊n/k⌋ — pure position arithmetic over the count summaries (the
    * RowNumber machinery plus the total), so it needs no keys, no tie
    * repair, and no separate count subplan. */
  case class NTile(buckets: Int) extends RankMode
  /** Spark-exact percent_rank(): (rank − 1) / (N − 1) as DOUBLE (0.0 when
    * N == 1) — pure arithmetic over the [[Rank]] machinery plus the total
    * from the count summaries (round-13 verdict #4). */
  case object PercentRank extends RankMode
  /** Spark-exact cume_dist(): (rows with key ≤ current) / N as DOUBLE —
    * the tie group's LAST global position over the total, i.e. the
    * [[AvgRankX2]] group walk (first rank + repaired group size − 1)
    * divided by N. */
  case object CumeDist extends RankMode
}

/** Native exact global ranking — graft's one ranking primitive, a
  * whole-operator Catalyst extension for the NAMED scale-killer shape
  * (`row_number()/rank()/dense_rank() OVER (ORDER BY …)` with no
  * partition spec — Spark plans it as ONE task sorting the entire frame).
  *
  * Physical plan: the child range-partitions on the sort order (the same
  * exchange a global sort pays — `OrderedDistribution`, EnsureRequirements
  * inserts it) and sorts within partitions; then
  *
  *   1. a SUMMARY pass computes per-partition row counts — and, for the
  *      tie-aware modes, the distinct-key count, the first/last sort-key
  *      rows, and the tail tie-run length. This is a second job over the
  *      child RDD, but the exchange's map output is already materialized,
  *      so stage reuse makes it a shuffle-read-only walk — no
  *      recomputation; keys project through two alternating
  *      UnsafeProjections so adjacent-row equality never copies a row;
  *   2. driver-side offsets over `numPartitions` summaries (metadata,
  *      never data):
  *        - row_number: partition i's offset = Σ counts(0..i-1);
  *        - rank: the same row offset, minus the tie-run carried in from
  *          predecessors — rows equal to partition i's FIRST key that
  *          live in partitions < i (walk back while predecessors' last
  *          key equals it; a single-key partition keeps walking);
  *        - dense_rank: running distinct-key total, minus one whenever a
  *          partition's first key ties its predecessor's last (the tied
  *          key must not count twice);
  *   3. one streaming map pass appends the global rank from the offset +
  *      local position (row_number), local first-row-of-tie position with
  *      the head-run subtraction (rank), or local distinct index
  *      (dense_rank).
  *
  * Exactness: range partitions are disjoint and ordered, so the offset
  * arithmetic above reproduces the single-partition window semantics for
  * ANY sampled boundary choice — ties that span a partition boundary are
  * exactly what the rank/dense_rank fixups repair, and row_number splits
  * them arbitrarily (callers pass a total order for deterministic
  * output). Offsets come from a job over the SAME RDD instance that the
  * map pass streams, so partition placement needs no pinning.
  *
  * At 100 TB: one range exchange (∝ N/partitions per task) + one
  * shuffle-read summary pass, vs the window form's single task holding
  * every row. The summary pass is the price of exactness without a second
  * shuffle; it reads shuffle files, it never re-runs the child's lineage.
  *
  * Two faces:
  *   - explicit: [[GlobalRank.withRowNumber]] / [[GlobalRank.withRank]] /
  *     [[GlobalRank.withDenseRank]] build the plan directly (the
  *     `window_exact_quantiles` query path);
  *   - transparent: [[GlobalRankRewrite]] (opt-in,
  *     `spark.graft.distRank.enabled=true`) rewrites a logical Window
  *     whose expressions are ALL bare `row_number()`/`rank()`/
  *     `dense_rank()` over an empty partition spec into this node —
  *     result-identical (GlobalRankSpec gates rule-on ≡ rule-off,
  *     including tie-heavy fixtures), type-identical (the rewritten
  *     attribute keeps the window function's IntegerType and exprId),
  *     and inert by default so existing deliberately-bounded global
  *     windows keep their plans.
  */
case class GlobalRankPlan(child: LogicalPlan, order: Seq[SortOrder],
    rankAttr: Attribute, mode: RankMode = RankMode.RowNumber)
    extends LogicalPlan with UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GlobalRankPlan = copy(child = newChild)
}

class GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: GlobalRankPlan =>
      GlobalRankExec(p.order, p.rankAttr, p.mode, planLater(p.child)) :: Nil
    case p: GlobalPrefixSumPlan =>
      GlobalPrefixSumExec(p.order, p.sumExpr, p.outAttr,
        planLater(p.child)) :: Nil
    case p: GlobalShiftPlan =>
      GlobalShiftExec(p.order, p.shiftExpr, p.offset, p.isLag, p.outAttr,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Native exact global LAG/LEAD — the OFFSET member of the family:
  * `lag(e, k) / lead(e, k) OVER (ORDER BY …)` with no partition spec
  * (Spark: one task holding every row). Same physical shape as the rank
  * modes: one range exchange + a shuffle-read summary pass that collects
  * each partition's k EDGE values (last k for lag, first k for lead — k
  * single-column rows per partition, metadata scale), driver-side
  * boundary stitching over numPartitions summaries, then one streaming
  * map pass holding a k-deep ring buffer (memory O(k), independent of
  * partition size). ROWS-positional semantics with NULL default and
  * ignoreNulls=false, exactly Spark's `lag(e, k)`/`lead(e, k)` — rows
  * past the frame edge get NULL.
  */
case class GlobalShiftPlan(child: LogicalPlan, order: Seq[SortOrder],
    shiftExpr: org.apache.spark.sql.catalyst.expressions.Expression,
    offset: Int, isLag: Boolean, outAttr: Attribute)
    extends LogicalPlan with UnaryNode {
  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GlobalShiftPlan = copy(child = newChild)
}

case class GlobalShiftExec(order: Seq[SortOrder],
    shiftExpr: org.apache.spark.sql.catalyst.expressions.Expression,
    offset: Int, isLag: Boolean, outAttr: Attribute, child: SparkPlan)
    extends SparkPlan with UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = order

  protected override def doExecute(): RDD[InternalRow] = {
    val childRDD = child.execute()
    val childOutput = child.output
    val expr = shiftExpr
    val k = offset
    val lag = isLag
    // Pass 1 (shuffle-read): each partition's k edge values — the LAST k
    // for lag (what the successor's head rows need), the FIRST k for
    // lead. Bounded copies: a k-deep ring, never the partition.
    val edges: Array[Array[UnsafeRow]] =
      childRDD.sparkContext.runJob(childRDD,
        (it: Iterator[InternalRow]) => {
          val proj = UnsafeProjection.create(Seq(expr), childOutput)
          if (lag) {
            val ring = new java.util.ArrayDeque[UnsafeRow](k)
            while (it.hasNext) {
              if (ring.size == k) ring.removeFirst()
              ring.addLast(proj(it.next()).copy())
            }
            ring.toArray(new Array[UnsafeRow](ring.size)) // row order
          } else {
            val buf = new scala.collection.mutable.ArrayBuffer[UnsafeRow](k)
            while (it.hasNext && buf.size < k) buf += proj(it.next()).copy()
            buf.toArray
          }
        })
    val n = edges.length
    // Driver-side stitch: for partition pid, the ≤ k values immediately
    // BEFORE its first row (lag) / AFTER its last row (lead), in row
    // order — a walk over adjacent summaries, metadata never data.
    val carry: Array[Array[UnsafeRow]] = Array.tabulate(n) { pid =>
      val acc = new scala.collection.mutable.ArrayDeque[UnsafeRow]()
      if (lag) {
        var j = pid - 1
        while (j >= 0 && acc.size < k) {
          val e = edges(j)
          var i = e.length - 1
          while (i >= 0 && acc.size < k) { acc.prepend(e(i)); i -= 1 }
          j -= 1
        }
      } else {
        var j = pid + 1
        while (j < n && acc.size < k) {
          val e = edges(j)
          var i = 0
          while (i < e.length && acc.size < k) { acc.append(e(i)); i += 1 }
          j += 1
        }
      }
      acc.toArray
    }
    val out = output
    val dt = outAttr.dataType
    // Pass 2: stream each partition once with a k-deep buffer.
    childRDD.mapPartitionsWithIndex({ (pid, iter) =>
      val proj = UnsafeProjection.create(out, out)
      val valProj = UnsafeProjection.create(Seq(expr), childOutput)
      val shiftRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      def emit(r: InternalRow, v: UnsafeRow): InternalRow = {
        if (v == null || v.isNullAt(0)) shiftRow.update(0, null)
        else shiftRow.update(0, v.get(0, dt))
        proj(joined(r, shiftRow))
      }
      if (lag) {
        // ring holds the previous ≤ k values (oldest first), seeded with
        // the carry-in; full ring head IS the value k rows back
        val ring = new java.util.ArrayDeque[UnsafeRow](k)
        carry(pid).foreach(ring.addLast)
        iter.map { r =>
          val v = if (ring.size == k) ring.removeFirst() else null
          val outRow = emit(r, v)
          ring.addLast(valProj(r).copy())
          if (ring.size > k) ring.removeFirst()
          outRow
        }
      } else {
        // pending holds ≤ k delayed ROWS; a row emits when the row k
        // positions later arrives (its value), or from the carry-in /
        // NULL once the partition drains
        val pending = new java.util.ArrayDeque[InternalRow](k)
        new Iterator[InternalRow] {
          private val tail = carry(pid)
          override def hasNext: Boolean = iter.hasNext || !pending.isEmpty
          override def next(): InternalRow = {
            while (iter.hasNext && pending.size < k)
              pending.addLast(iter.next().copy())
            if (iter.hasNext) {
              val cur = iter.next()
              val outRow = emit(pending.removeFirst(), valProj(cur))
              pending.addLast(cur.copy())
              outRow
            } else {
              // drain: the emitted row has pending.size-1 partition rows
              // left behind it, so its k-ahead value sits k-1-that deep
              // in the carry-in (short partitions skip carry positions)
              val p = pending.removeFirst()
              val idx = k - pending.size - 1
              emit(p, if (idx < tail.length) tail(idx) else null)
            }
          }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): GlobalShiftExec = copy(child = newChild)
}

/** Native exact global RUNNING SUM — the prefix-scan sibling of
  * [[GlobalRankPlan]]: `sum(v) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)`
  * without the single-task window. Same physical shape: one range
  * exchange + a shuffle-read summary pass (per-partition sums instead of
  * counts), driver-side offsets over `numPartitions` longs, one
  * streaming map pass. ROWS-frame semantics (each row gets its own
  * running value — pass a total order for determinism); LongType values
  * only (the repo's exact-integer discipline: pre-scale decimals to
  * cents), nulls contribute zero like SUM. Explicit API only
  * ([[GlobalRank.withRunningSum]]) — no transparent rewrite, because
  * Spark's default `sum().over(orderBy)` is a RANGE frame (ties share a
  * value) and a silent ROWS swap would be wrong under ties.
  */
case class GlobalPrefixSumPlan(child: LogicalPlan, order: Seq[SortOrder],
    sumExpr: org.apache.spark.sql.catalyst.expressions.Expression,
    outAttr: Attribute) extends LogicalPlan with UnaryNode {
  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GlobalPrefixSumPlan = copy(child = newChild)
}

case class GlobalPrefixSumExec(order: Seq[SortOrder],
    sumExpr: org.apache.spark.sql.catalyst.expressions.Expression,
    outAttr: Attribute, child: SparkPlan)
    extends SparkPlan with UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = order

  protected override def doExecute(): RDD[InternalRow] = {
    val childRDD = child.execute()
    val childOutput = child.output
    val expr = sumExpr
    // Pass 1: per-partition value sums (shuffle-read-only, stage reuse)
    val sums = childRDD.sparkContext.runJob(childRDD,
      (it: Iterator[InternalRow]) => {
        val proj = UnsafeProjection.create(Seq(expr), childOutput)
        var s = 0L
        while (it.hasNext) {
          val k = proj(it.next())
          if (!k.isNullAt(0)) s += k.getLong(0)
        }
        s
      })
    val offsets = sums.scanLeft(0L)(_ + _)
    val out = output
    // Pass 2: stream each partition once, appending offset + running sum
    childRDD.mapPartitionsWithIndex({ (pid, iter) =>
      val proj = UnsafeProjection.create(out, out)
      val valProj = UnsafeProjection.create(Seq(expr), childOutput)
      val sumRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      var run = offsets(pid)
      iter.map { r =>
        val k = valProj(r)
        if (!k.isNullAt(0)) run += k.getLong(0)
        sumRow.update(0, run)
        proj(joined(r, sumRow))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): GlobalPrefixSumExec = copy(child = newChild)
}

/** Per-partition summary from the shuffle-read pass: row count plus, for
  * tie-aware modes, the distinct-key count, boundary keys (projected
  * sort-key rows), and the tail tie-run length. UnsafeRow keys serialize
  * with the job result — 2 rows per partition, metadata scale.
  */
private[plans] case class RankPartSummary(count: Long, distinct: Long,
    tailRun: Long, headRun: Long, firstKey: UnsafeRow, lastKey: UnsafeRow)

case class GlobalRankExec(order: Seq[SortOrder], rankAttr: Attribute,
    mode: RankMode, child: SparkPlan) extends SparkPlan with UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = order

  /** Sort orders re-bound to the PROJECTED key row (one field per key,
    * in order) — equality under this ordering is key equality with SQL
    * null/NaN semantics, which binary UnsafeRow comparison is not.
    */
  private def boundKeyOrder: Seq[SortOrder] =
    order.zipWithIndex.map { case (so, i) =>
      so.copy(child = BoundReference(i, so.child.dataType, so.child.nullable))
    }

  protected override def doExecute(): RDD[InternalRow] = {
    val childRDD = child.execute()
    val keyExprs = order.map(_.child)
    val childOutput = child.output
    val bound = boundKeyOrder
    val needKeys = mode match {
      case RankMode.RowNumber | RankMode.NTile(_) => false
      case _ => true
    }
    // Pass 1: per-partition summaries. Runs as its own job, but the
    // child's exchange map output is already written, so this stage is a
    // pure shuffle read (rows deserialized and dropped, never copied —
    // the two alternating key projections keep `prev` valid without a
    // per-row copy; only the 2 boundary keys are copied out).
    val summaries = childRDD.sparkContext.runJob(childRDD,
      (it: Iterator[InternalRow]) => {
        if (!needKeys) {
          var c = 0L
          while (it.hasNext) { it.next(); c += 1 }
          RankPartSummary(c, 0L, 0L, 0L, null, null)
        } else {
          val projA = UnsafeProjection.create(keyExprs, childOutput)
          val projB = UnsafeProjection.create(keyExprs, childOutput)
          val ord = GenerateOrdering.generate(bound)
          var c = 0L; var distinct = 0L; var tailRun = 0L
          var headRun = 0L
          var first: UnsafeRow = null
          var prev: UnsafeRow = null
          var useA = true
          while (it.hasNext) {
            val k = if (useA) projA(it.next()) else projB(it.next())
            useA = !useA
            c += 1
            if (prev == null || ord.compare(k, prev) != 0) {
              distinct += 1; tailRun = 1
            } else tailRun += 1
            if (distinct == 1L) headRun += 1
            if (first == null) first = k.copy()
            prev = k
          }
          RankPartSummary(c, distinct, tailRun, headRun, first,
            if (prev == null) null else prev.copy())
        }
      })
    val n = summaries.length
    val rowOffsets = summaries.map(_.count).scanLeft(0L)(_ + _)
    // Driver-side boundary fixups (a scan over numPartitions summaries —
    // metadata, never data). Equality via the same generated ordering.
    val dOrd = GenerateOrdering.generate(bound)
    def eq(a: UnsafeRow, b: UnsafeRow): Boolean =
      a != null && b != null && dOrd.compare(a, b) == 0
    // rank: rows in partitions < i whose key equals partition i's first
    // key — they all sit in predecessors' TAIL runs (range-ordered), so
    // walk back accumulating tail runs while the last key still ties; a
    // single-key partition (distinct == 1) keeps the walk going.
    val needBehind = mode match {
      case RankMode.Rank | RankMode.AvgRankX2 | RankMode.PercentRank |
           RankMode.CumeDist => true
      case _ => false
    }
    val tieBehind: Array[Long] =
      if (!needBehind) Array.fill(n)(0L)
      else Array.tabulate(n) { i =>
        val x = summaries(i).firstKey
        var t = 0L
        if (x != null) {
          var j = i - 1
          var walking = true
          while (j >= 0 && walking) {
            val s = summaries(j)
            if (s.count == 0) j -= 1
            else if (eq(s.lastKey, x)) {
              t += s.tailRun
              if (s.distinct == 1L) j -= 1 else walking = false
            } else walking = false
          }
        }
        t
      }
    // avg-rank: rows AHEAD of each partition's tail run (the forward
    // mirror of tieBehind — the tail group's size must count its
    // continuation into later partitions' head runs)
    val tieAhead: Array[Long] =
      if (mode != RankMode.AvgRankX2 && mode != RankMode.CumeDist)
        Array.fill(n)(0L)
      else Array.tabulate(n) { i =>
        val x = summaries(i).lastKey
        var t = 0L
        if (x != null) {
          var j = i + 1
          var walking = true
          while (j < n && walking) {
            val s = summaries(j)
            if (s.count == 0) j += 1
            else if (eq(s.firstKey, x)) {
              t += s.headRun
              if (s.distinct == 1L) j += 1 else walking = false
            } else walking = false
          }
        }
        t
      }
    // dense_rank: running global dense index; a partition whose first key
    // ties its predecessor's last continues that key's dense rank instead
    // of opening a new one.
    val denseOffsets: Array[Long] = {
      val out = new Array[Long](n)
      var lastDense = 0L
      var prevLast: UnsafeRow = null
      var i = 0
      while (i < n) {
        val s = summaries(i)
        if (s.count == 0) out(i) = lastDense
        else {
          out(i) = if (eq(prevLast, s.firstKey)) lastDense - 1 else lastDense
          lastDense = out(i) + s.distinct
          prevLast = s.lastKey
        }
        i += 1
      }
      out
    }
    val out = output
    val isInt = rankAttr.dataType == IntegerType
    val execMode = mode
    // Pass 2: stream each partition once, appending the global rank.
    childRDD.mapPartitionsWithIndex({ (pid, iter) =>
      val proj = UnsafeProjection.create(out, out)
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      def emit(r: InternalRow, rk: Long): InternalRow = {
        // IntegerType face (the window rewrite): same 2^31 row bound as
        // Spark's own rank functions — overflow behavior is at parity.
        if (isInt) rankRow.update(0, rk.toInt) else rankRow.update(0, rk)
        proj(joined(r, rankRow))
      }
      // DOUBLE face for the distribution modes (percent_rank/cume_dist —
      // Spark's own output type for both)
      def emitD(r: InternalRow, v: Double): InternalRow = {
        rankRow.update(0, v)
        proj(joined(r, rankRow))
      }
      execMode match {
        case RankMode.RowNumber =>
          var rk = rowOffsets(pid)
          iter.map { r => rk += 1; emit(r, rk) }
        case RankMode.NTile(k) =>
          // Spark-exact ntile from position + total (the summaries' last
          // offset): first n%k buckets take q+1 rows, the rest q
          val total = rowOffsets(rowOffsets.length - 1)
          val q = total / k
          val rem = total % k
          val cut = rem * (q + 1)
          var rk = rowOffsets(pid)
          iter.map { r =>
            rk += 1
            val b =
              if (rk <= cut) (rk - 1) / (q + 1) + 1
              else if (q == 0) rk // n < k: each row its own bucket
              else rem + (rk - 1 - cut) / q + 1
            emit(r, b)
          }
        case RankMode.Rank | RankMode.PercentRank =>
          val projA = UnsafeProjection.create(keyExprs, childOutput)
          val projB = UnsafeProjection.create(keyExprs, childOutput)
          val ord = GenerateOrdering.generate(bound)
          val off = rowOffsets(pid)
          val behind = tieBehind(pid)
          // percent_rank = (rank − 1)/(N − 1), 0.0 when N == 1 — pure
          // arithmetic on the same competition rank, over the total the
          // count summaries already hold
          val total = rowOffsets(rowOffsets.length - 1)
          val asPercent = execMode == RankMode.PercentRank
          var pos = 0L; var localRank = 0L
          var prev: UnsafeRow = null
          var inHeadRun = true
          var useA = true
          iter.map { r =>
            val k = if (useA) projA(r) else projB(r)
            useA = !useA
            pos += 1
            if (prev == null || ord.compare(k, prev) != 0) {
              localRank = pos
              if (prev != null) inHeadRun = false
            }
            prev = k
            val rk = off + localRank - (if (inHeadRun) behind else 0L)
            if (asPercent)
              emitD(r, if (total <= 1L) 0.0
                       else (rk - 1).toDouble / (total - 1))
            else emit(r, rk)
          }
        case RankMode.DenseRank =>
          val projA = UnsafeProjection.create(keyExprs, childOutput)
          val projB = UnsafeProjection.create(keyExprs, childOutput)
          val ord = GenerateOrdering.generate(bound)
          val off = denseOffsets(pid)
          var localDense = 0L
          var prev: UnsafeRow = null
          var useA = true
          iter.map { r =>
            val k = if (useA) projA(r) else projB(r)
            useA = !useA
            if (prev == null || ord.compare(k, prev) != 0) localDense += 1
            prev = k
            emit(r, off + localDense)
          }
        case RankMode.AvgRankX2 | RankMode.CumeDist =>
          // one tie group buffered at a time (copies — the group must
          // outlive the reader's reused row buffer). Memory is bounded
          // by this partition's slice of the widest group — strictly
          // tighter than WindowExec, which buffers the whole partition.
          // CumeDist shares the group walk: its per-group value is the
          // group's LAST global position (first rank + repaired size − 1)
          // over the total, emitted as DOUBLE.
          val keyProj = UnsafeProjection.create(keyExprs, childOutput)
          val ord = GenerateOrdering.generate(bound)
          val off = rowOffsets(pid)
          val behind = tieBehind(pid)
          val ahead = tieAhead(pid)
          val total = rowOffsets(rowOffsets.length - 1)
          val asCume = execMode == RankMode.CumeDist
          new Iterator[InternalRow] {
            private var pendRow: InternalRow = _
            private var pendKey: UnsafeRow = _
            private var consumed = 0L
            private def advance(): Unit =
              if (iter.hasNext) {
                pendRow = iter.next().copy()
                pendKey = keyProj(pendRow).copy()
                consumed += 1
              } else { pendRow = null; pendKey = null }
            advance()
            private val group =
              new scala.collection.mutable.ArrayBuffer[InternalRow]()
            private var gEmit = 0
            private var gVal = 0L
            private var headGroup = true
            private def loadGroup(): Unit = {
              group.clear(); gEmit = 0
              val gKey = pendKey
              val gFirstLocal = consumed
              group += pendRow
              var more = true
              while (more) {
                advance()
                if (pendRow != null && ord.compare(pendKey, gKey) == 0)
                  group += pendRow
                else more = false
              }
              val isHead = headGroup
              headGroup = false
              val isTail = pendRow == null
              val gSize = group.size.toLong +
                (if (isHead) behind else 0L) + (if (isTail) ahead else 0L)
              val firstRank =
                off + gFirstLocal - (if (isHead) behind else 0L)
              gVal = if (asCume) firstRank + gSize - 1L
                     else 2L * firstRank + gSize - 1L
            }
            override def hasNext: Boolean =
              gEmit < group.size || pendRow != null
            override def next(): InternalRow = {
              if (gEmit >= group.size) loadGroup()
              val r = group(gEmit)
              gEmit += 1
              if (asCume) emitD(r, gVal.toDouble / total)
              else emit(r, gVal)
            }
          }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): GlobalRankExec = copy(child = newChild)
}

/** Opt-in optimizer rule (`spark.graft.distRank.enabled=true`): rewrite
  * `Window` nodes whose window expressions are ALL bare `row_number()`,
  * `rank()`, `dense_rank()`, `ntile(<positive literal>)`,
  * `percent_rank()`, or `cume_dist()` with an EMPTY partition spec into
  * [[GlobalRankPlan]] nodes (one per expression, modes mixed freely) —
  * with these two the rule covers EVERY bare global ranking/distribution
  * window function Spark defines. Matches nothing else — aggregate
  * windows, lag/lead, and mixed expression lists keep their WindowExec,
  * and partitioned windows are already parallel. Defensive-parse
  * discipline (the RangeBinJoin lesson): any value other than "true" is
  * OFF, never a throw inside the optimizer.
  */
object GlobalRankRewrite extends Rule[LogicalPlan] {
  val Key = "spark.graft.distRank.enabled"

  private def modeOf(e: NamedExpression): Option[(Alias, RankMode)] =
    e match {
      case a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(Nil, _, _)), _) =>
        Some((a, RankMode.RowNumber))
      case a @ Alias(WindowExpression(_: Rank,
          WindowSpecDefinition(Nil, _, _)), _) =>
        Some((a, RankMode.Rank))
      case a @ Alias(WindowExpression(_: DenseRank,
          WindowSpecDefinition(Nil, _, _)), _) =>
        Some((a, RankMode.DenseRank))
      case a @ Alias(WindowExpression(
          org.apache.spark.sql.catalyst.expressions.NTile(
            org.apache.spark.sql.catalyst.expressions.Literal(k: Int,
              IntegerType)),
          WindowSpecDefinition(Nil, _, _)), _) if k > 0 =>
        Some((a, RankMode.NTile(k)))
      case a @ Alias(WindowExpression(_: PercentRank,
          WindowSpecDefinition(Nil, _, _)), _) =>
        Some((a, RankMode.PercentRank))
      case a @ Alias(WindowExpression(_: CumeDist,
          WindowSpecDefinition(Nil, _, _)), _) =>
        Some((a, RankMode.CumeDist))
      case _ => None
    }

  /** The window function's own output type, preserved by the rewrite:
    * IntegerType for the counting modes (Spark's rank functions),
    * DoubleType for the distribution fractions. */
  private def dtOf(mode: RankMode): DataType = mode match {
    case RankMode.PercentRank | RankMode.CumeDist => DoubleType
    case _ => IntegerType
  }

  /** Bare global `lag(e, k)` / `lead(e, k)` with the NULL default and
    * ignoreNulls=false — the offset class, rewritten to
    * [[GlobalShiftPlan]]. Non-literal offsets, non-null defaults, and
    * ignoreNulls keep their WindowExec. */
  private def shiftOf(e: NamedExpression)
      : Option[(Alias, Expression, Int, Boolean)] = e match {
    case a @ Alias(WindowExpression(Lag(in,
        Literal(off: Int, IntegerType), Literal(null, _), false),
        WindowSpecDefinition(Nil, _, _)), _) if off > 0 =>
      Some((a, in, off, true))
    case a @ Alias(WindowExpression(Lead(in,
        Literal(off: Int, IntegerType), Literal(null, _), false),
        WindowSpecDefinition(Nil, _, _)), _) if off > 0 =>
      Some((a, in, off, false))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(Key, "false").trim.equalsIgnoreCase("true"))
      return plan
    plan transform {
      case Window(exprs, Nil, order, child, _)
          if order.nonEmpty && exprs.nonEmpty &&
            exprs.forall(e =>
              modeOf(e).isDefined || shiftOf(e).isDefined) =>
        // chain one node per ranking/offset alias (they share the same
        // orderSpec by Window's construction), preserving each alias's
        // exprId and output type so parent operators resolve unchanged
        exprs.foldLeft(child) { (c, e) =>
          modeOf(e) match {
            case Some((a, mode)) =>
              GlobalRankPlan(c, order,
                AttributeReference(a.name, dtOf(mode),
                  nullable = false)(a.exprId, a.qualifier), mode)
            case None =>
              val (a, in, off, isLag) = shiftOf(e).get
              GlobalShiftPlan(c, order, in, off, isLag,
                AttributeReference(a.name, in.dataType,
                  nullable = true)(a.exprId, a.qualifier))
          }
        }
    }
  }
}

/** DataFrame-level API over the native operator. */
object GlobalRank {

  /** Registers the strategy on an existing session (idempotent); the
    * build-time path is `GraftExtensions.injectPlannerStrategy`.
    */
  def ensureStrategy(spark: SparkSession): Unit = {
    val es = spark.experimental.extraStrategies
    if (!es.exists(_.isInstanceOf[GlobalRankStrategy]))
      spark.experimental.extraStrategies = es :+ new GlobalRankStrategy
  }

  /** Resolves `df`'s analyzed plan, its columns by name and the sort
    * order of `keys`, and wraps the node `mk` builds from them. */
  private def native(df: DataFrame, keys: Seq[(String, Boolean)])(
      mk: (LogicalPlan, String => Attribute, Seq[SortOrder]) => LogicalPlan)
      : DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${plan.output.map(_.name).mkString(",")}"))
    val order = keys.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    GraftInternal.ofRows(spark, mk(plan, attr, order))
  }

  private def build(df: DataFrame, outCol: String, mode: RankMode,
      keys: Seq[(String, Boolean)], dt: DataType = LongType): DataFrame =
    native(df, keys) { (plan, _, order) =>
      GlobalRankPlan(plan, order,
        AttributeReference(outCol, dt, nullable = false)(), mode)
    }

  /** `df` plus LONG column `outCol` = exact global 1-based row_number
    * under `keys` ((column, ascending) pairs — pass a total order).
    */
  def withRowNumber(df: DataFrame, outCol: String,
      keys: (String, Boolean)*): DataFrame =
    build(df, outCol, RankMode.RowNumber, keys)

  /** Exact global competition rank (1,1,3) under `keys` — ties share the
    * first row's rank; boundary ties are repaired exactly. */
  def withRank(df: DataFrame, outCol: String,
      keys: (String, Boolean)*): DataFrame =
    build(df, outCol, RankMode.Rank, keys)

  /** Exact global dense rank (1,1,2) under `keys`. */
  def withDenseRank(df: DataFrame, outCol: String,
      keys: (String, Boolean)*): DataFrame =
    build(df, outCol, RankMode.DenseRank, keys)

  /** Spark-exact global ntile(k) under `keys` (pass a total order for
    * deterministic bucket membership) — position arithmetic over the
    * count summaries, no separate count subplan, no single-task window.
    */
  def withNTile(df: DataFrame, outCol: String, k: Int,
      keys: (String, Boolean)*): DataFrame = {
    require(k > 0, s"ntile bucket count must be positive (got $k)")
    build(df, outCol, RankMode.NTile(k), keys)
  }

  /** `df` plus DOUBLE column `outCol` = Spark-exact global percent_rank
    * ((rank − 1)/(N − 1); 0.0 when N == 1) under `keys` — the [[withRank]]
    * machinery plus the total, never a single-task window. */
  def withPercentRank(df: DataFrame, outCol: String,
      keys: (String, Boolean)*): DataFrame =
    build(df, outCol, RankMode.PercentRank, keys, DoubleType)

  /** `df` plus DOUBLE column `outCol` = Spark-exact global cume_dist
    * ((rows with key ≤ current)/N) under `keys` — the tie-group walk of
    * [[withAvgRankX2]] emitting last-position/total. */
  def withCumeDist(df: DataFrame, outCol: String,
      keys: (String, Boolean)*): DataFrame =
    build(df, outCol, RankMode.CumeDist, keys, DoubleType)

  /** Exact DOUBLED fractional average rank (2·avg_rank, an exact LONG:
    * 2·first_rank + tie_size − 1) under `keys` — the Spearman /
    * Mann-Whitney / Kruskal-Wallis primitive, one pass where the
    * rank_asc/rank_desc composition needs two. */
  def withAvgRankX2(df: DataFrame, outCol: String,
      keys: (String, Boolean)*): DataFrame =
    build(df, outCol, RankMode.AvgRankX2, keys)

  /** `df` plus nullable column `outCol` (the value column's type) =
    * Spark-exact global `lag(valueCol, offset)` under `keys` (pass a
    * total order — positional semantics; NULL past the frame edge). One
    * range exchange + a k-edge-value summary pass; memory O(offset). */
  def withLag(df: DataFrame, outCol: String, valueCol: String,
      offset: Int, keys: (String, Boolean)*): DataFrame =
    buildShift(df, outCol, valueCol, offset, isLag = true, keys)

  /** Spark-exact global `lead(valueCol, offset)` — see [[withLag]]. */
  def withLead(df: DataFrame, outCol: String, valueCol: String,
      offset: Int, keys: (String, Boolean)*): DataFrame =
    buildShift(df, outCol, valueCol, offset, isLag = false, keys)

  private def buildShift(df: DataFrame, outCol: String, valueCol: String,
      offset: Int, isLag: Boolean,
      keys: Seq[(String, Boolean)]): DataFrame = {
    require(offset > 0, s"shift offset must be positive (got $offset)")
    native(df, keys) { (plan, attr, order) =>
      val v = attr(valueCol)
      GlobalShiftPlan(plan, order, v, offset, isLag,
        AttributeReference(outCol, v.dataType, nullable = true)())
    }
  }

  /** `df` plus LONG column `outCol` = exact global running sum of LONG
    * column `valueCol` under `keys` (ROWS-frame: every row gets its own
    * cumulative value — pass a total order for determinism; nulls add
    * zero). The prefix-scan member of the native family: one range
    * exchange + a shuffle-read sum pass, never a single-task window.
    */
  def withRunningSum(df: DataFrame, outCol: String, valueCol: String,
      keys: (String, Boolean)*): DataFrame =
    native(df, keys) { (plan, attr, order) =>
      val v = attr(valueCol)
      require(v.dataType == LongType,
        s"withRunningSum needs a LONG value column (got ${v.dataType} " +
          s"for $valueCol — pre-scale decimals to exact integer units)")
      GlobalPrefixSumPlan(plan, order, v,
        AttributeReference(outCol, LongType, nullable = false)())
    }
}
