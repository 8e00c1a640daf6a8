package graft.operators

import graft.plans.TopKPerGroup
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable whole-operator APIs of the engine, generic over input
  * frames (the gate queries are instantiations of these).
  */
object GraftOps {

  /** Per-group top-k via the custom [[graft.plans.TopKPerGroup]]
    * operator (map-side partial bounded heaps → shuffle on group →
    * final bounded heaps; nothing larger than k rows per group is
    * ever sorted). `orderCols` should end in a unique tie-break so
    * the order is total; plain columns sort ascending.
    *
    * MEMORY CONTRACT (mirrors [[graft.plans.TopKPerGroupExec]]): each
    * task holds k rows per distinct group in its partition on-heap
    * with NO spill path — right for hot/bounded group cardinality.
    * For extreme per-partition group cardinality use the window
    * formulation (`row_number().over(...)`), whose external sort
    * spills. The exec's `peakGroups` SQLMetric (max distinct groups
    * held per task) is the runtime gauge for this contract.
    */
  def topKPerGroup(df: DataFrame, k: Int, group: Column, orderCols: Column*): DataFrame = {
    // eager conversion: the lazy Column wrapper embeds non-serializable
    // sql.internal nodes that would ride into the task closure
    val sortOrders = orderCols.map(GraftBridge.eagerExpression(df.sparkSession, _)).map {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }
    GraftBridge.ofRows(df.sparkSession,
      TopKPerGroup(k, GraftBridge.eagerExpression(df.sparkSession, group), sortOrders,
        GraftBridge.logicalPlan(df)))
  }

  /** Connected components of an undirected graph given as an edge
    * frame with two long columns: returns (node, component) where
    * component = the smallest node id reachable.
    *
    * Star contraction: each round every supernode merges into
    * min(self, neighbors), the full label table composes through the
    * merge map, and the graph is REWRITTEN over the merged ids
    * (self-loops and duplicate edges dropped). Unlike plain min-label
    * propagation — one graph hop per round over the full edge set —
    * the edge set shrinks geometrically (measured on the sf0.1
    * near-dup graph: 205k → 4.5k → 1.4k → 214 → 28 → 6 → 0), so at
    * cluster scale the big edge set is touched only in the first
    * round or two. Termination is edge exhaustion: every component
    * has collapsed to its minimum node, whose id never changes (its
    * neighbors are always larger). Each round localCheckpoints —
    * constant-size plans, no lineage blowup.
    *
    * Local finish: once the contracted edge set fits under
    * `localFinishMaxEdges` (default 1M directed edges ≈ 16 MB), one
    * driver-side union-find replaces the remaining O(log n)
    * distributed rounds — each of which costs a fixed scheduling
    * latency floor (~0.45s at local[32]) regardless of how few edges
    * remain, and the tail rounds are ALWAYS tiny. At 100 TB the first
    * rounds run distributed and geometric shrink reaches the
    * threshold in 2–3 rounds; the same constant bounds driver memory.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          localFinishMaxEdges: Long = 1000000L): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).localCheckpoint()
    // The local union-find needs a driver-side ordering matching
    // least()/min() semantics for the id type; for id types without
    // one here, the loop simply runs distributed to exhaustion — the
    // utility stays generic over any orderable Spark type.
    val idType = e0.schema("a").dataType
    val localOrd: Option[Ordering[Any]] = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
      case StringType => Some(Ordering.by((x: Any) => x.toString))
      case _ => None
    }
    val threshold = if (localOrd.isDefined) localFinishMaxEdges.max(0L) else 0L
    var labels = e0.select(col("a").as("node")).union(e0.select(col("b").as("node")))
      .distinct().withColumn("lbl", col("node")).localCheckpoint()
    var cur = e0.union(e0.select(col("b").as("a"), col("a").as("b"))).localCheckpoint()
    var nEdges = cur.count()
    while (nEdges > threshold) {
      val m = cur.groupBy("a").agg(least(min(col("b")), first(col("a"))).as("m"))
        .select(col("a").as("sn"), col("m"))
      labels = labels.join(m.select(col("sn").as("lbl"), col("m")), Seq("lbl"), "left")
        .select(col("node"), coalesce(col("m"), col("lbl")).as("lbl"))
        .localCheckpoint()
      cur = cur.join(m.select(col("sn").as("a"), col("m").as("ma")), "a")
        .join(m.select(col("sn").as("b"), col("m").as("mb")), "b")
        .select(col("ma").as("a"), col("mb").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .localCheckpoint()
      nEdges = cur.count()
    }
    if (nEdges > 0) {
      // Union-find with min-id roots over the collected remainder.
      // Supernode ids are original node ids (min-merges only ever keep
      // existing ids), so the local component min IS the global one.
      val ord = localOrd.get // nEdges > 0 implies threshold > 0 implies defined
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      cur.select(col("a"), col("b")).collect().foreach { row =>
        val (ra, rb) = (find(row.get(0)), find(row.get(1)))
        if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      val rootRows = parent.keys.toSeq.map(k => Row(k, find(k)))
      val mapDf = spark.createDataFrame(rootRows.asJava,
        StructType(Seq(StructField("sn", idType), StructField("root", idType))))
      labels = labels
        .join(broadcast(mapDf), labels("lbl") === col("sn"), "left")
        .select(col("node"), coalesce(col("root"), col("lbl")).as("lbl"))
    }
    labels.select(col("node"), col("lbl").as("component"))
  }

  /** Generic as-of join: for every left row, the latest right `value`
    * (by right time, then value as tie-break) among right rows of the
    * same key with time at-or-before the left row's time.
    *
    * Union+window formulation: ONE shuffle on the key, no per-key
    * range explosion — at 100 TB a join+filter+argmax would first
    * materialize |left| × |right-rows-per-key| pairs; this streams
    * both sides through a single running-last window.
    *
    * Output: all left columns + `asCol` (null when no right row
    * precedes the left row).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: Column, rightKey: Column,
               leftTime: Column, rightTime: Column,
               value: Column, asCol: String): DataFrame = {
    val leftCols = left.columns
    val l = left.select(
      leftKey.as("__k"), leftTime.as("__t"), lit(1L).as("__kind"),
      lit(null).cast(right.select(value).schema.head.dataType).as("__v"),
      struct(leftCols.map(col): _*).as("__payload"))
    val r = right.select(
      rightKey.as("__k"), rightTime.as("__t"), lit(0L).as("__kind"),
      value.as("__v"), lit(null).cast(l.schema("__payload").dataType).as("__payload"))
    val w = Window.partitionBy("__k")
      .orderBy(col("__t"), col("__kind"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__last", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .select(leftCols.map(c => col(s"__payload.$c").as(c)) :+ col("__last").as(asCol): _*)
  }

  /** Distributed global rank WITHOUT a global window — the 100 TB
    * replacement for `row_number().over(Window.orderBy(value, tie))`:
    * a partial-agg quantile sketch (approx_percentile — no window, no
    * sample pass) picks ≤31 range cut points, every row buckets by
    * value against the cuts, buckets rank locally in parallel, and
    * per-bucket counts shift the local ranks global. The result is
    * EXACTLY the global rank no matter where the cuts land: bucket
    * assignment is a monotone function of the value alone (double-cast
    * compare — the cast is monotone and ties co-bucket), so (value,
    * tie) order is preserved across buckets; cut placement only
    * affects bucket BALANCE, which the sketch makes near-even. The
    * input lineage is localCheckpoint'd once so the cut-point, count
    * and rank passes don't recompute the caller's plan.
    *
    * Output: the input columns + `rn` (1-based global rank by
    * (value ASC, tie ASC); any existing `rn` column is replaced). For
    * a descending rank pass the negated value. `materialized` and
    * `totals` are [[rangeRankMulti]]'s.
    */
  def rangeRank(df: DataFrame, value: Column, tie: Column, materialized: Boolean = false,
                totals: Seq[Column] = Nil): DataFrame =
    rangeRankMulti(df, Seq("rn" -> value), tie, materialized, totals)

  /** N [[rangeRank]] passes amortized over ONE input materialization:
    * all pass values project onto the same localCheckpoint'd frame,
    * ONE aggregate computes every pass's approx_percentile cut points
    * (and the caller's `totals`), ONE rollup counts every pass's rows per
    * bucket (≤32·N rows), and each pass then pays only its inherent
    * per-bucket rank window. Both small results come to the driver,
    * so the cut points and bucket offsets enter the rank plan as
    * literals: every consumer of the ranked frame sees the same cuts
    * and offsets, and none re-runs their jobs. Six chained
    * single-pass calls on the same frame pay the checkpoint+sample
    * floor six times (the 6.4s `rfm_migration` finding); this shape
    * pays it once per frame.
    *
    * Output: the input columns + one 1-based global-rank column per
    * `(name, value)` pass (rank by (value ASC, tie ASC) — negate the
    * value for descending), each bitwise-identical to the equivalent
    * single [[rangeRank]] pass. `totals` are aliased aggregates over
    * the whole input frame (a row count, a sum, a max); the cut-point
    * aggregate computes them in the same scan and each lands as a
    * constant column under its alias, so a caller that needs n for an
    * NTILE or a quantile position, or a grand total, runs no job of
    * its own for it.
    */
  def rangeRankMulti(df: DataFrame, passes: Seq[(String, Column)],
                     tie: Column, materialized: Boolean = false,
                     totals: Seq[Column] = Nil): DataFrame = {
    val vi = passes.indices
    val proj = vi.foldLeft(df.withColumn("__t", tie)) { (d, i) =>
      d.withColumn(s"__v$i", passes(i)._2)
    }
    // `materialized = true`: the caller already localCheckpoint'd the
    // frame (the pass projections are cheap row-local arithmetic), so
    // a second materialization here would only add a pass. The flag is
    // VERIFIED, not trusted: the bucket counts below and the final
    // rank evaluate the input subtree in separate jobs, so a
    // non-materialized (or nondeterministic) parent could count
    // DIFFERENT rows per bucket than the rank then sees — silently
    // wrong ranks. If any leaf of the claimed-materialized plan is not
    // an in-memory scan, checkpoint anyway.
    val leavesMaterialized = proj.queryExecution.logical.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
    val b = if (materialized && leavesMaterialized) proj else proj.localCheckpoint()
    val fracs = (1 to 31).map(k => k / 32.0).mkString("array(", ", ", ")")
    val aggs = vi.map(i =>
      expr(s"approx_percentile(cast(__v$i as double), $fracs, 1000)")) ++ totals
    val stats = b.agg(aggs.head, aggs.tail: _*).head()
    // bucket = how many distinct cut points lie below the value (an
    // empty frame has no cuts): codegen'd compares against literals
    val bucketed = vi.foldLeft(b) { (d, i) =>
      val cuts = Option(stats.getSeq[Double](i)).getOrElse(Nil).distinct
      d.withColumn(s"__bk$i", cuts.foldLeft(lit(0L)) { (acc, c) =>
        acc + when(col(s"__v$i").cast("double") > c, 1L).otherwise(0L) })
    }
    // one job counts every pass's rows per bucket (explode to
    // (pass, bucket) rows, ≤32·N groups); the driver turns the counts
    // into each bucket's offset = the rows in lower buckets
    val counts = bucketed
      .select(explode(array(vi.map(i =>
        struct(lit(i).as("p"), col(s"__bk$i").as("bk"))): _*)).as("e"))
      .groupBy(col("e.p"), col("e.bk")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    vi.foldLeft(bucketed) { (d, i) =>
        val perBucket = counts.filter(_._1 == i).map(c => c._2 -> c._3).sortBy(_._1)
        val offsets = perBucket.map(_._1).zip(perBucket.scanLeft(0L)(_ + _._2)).toMap
        d.withColumn(passes(i)._1,
          (typedLit(offsets).apply(col(s"__bk$i")) + row_number().over(
            Window.partitionBy(s"__bk$i").orderBy(col(s"__v$i"), col("__t")))).cast("long"))
      }
      .drop(vi.flatMap(i => Seq(s"__bk$i", s"__v$i")) :+ "__t": _*)
      .select(col("*") +: totals.indices.map { j =>
        val f = stats.schema(vi.size + j)
        lit(stats.get(vi.size + j)).cast(f.dataType).as(f.name)
      }: _*)
  }

  /** Distributed running total: prefix sums of `value` over the TOTAL
    * order `order` WITHOUT a single-partition window — the classic
    * two-phase scan. Phase 1 aggregates per-bucket partial sums into a
    * tiny offset table (one row per bucket; its cumulative window is
    * |buckets| rows — the only serialized stage); phase 2 broadcasts
    * the offsets and runs per-bucket windows in parallel, each row's
    * running value = bucket offset + within-bucket prefix.
    *
    * Contract: `bucket` must be a deterministic NON-DECREASING
    * function of `order` (e.g. the day of an event-time column), and
    * `order` must be unique within a bucket (pre-aggregate ties
    * first) or the within-bucket prefix is tie-order-dependent. At
    * 100 TB the `Window.orderBy(t)` formulation funnels the whole
    * frame through one task; this shape only serializes the
    * buckets-row offset scan.
    *
    * Output: the input columns + `running`.
    */
  def runningTotal(df: DataFrame, order: Column, value: Column,
                   bucket: Column): DataFrame = {
    val b = df.withColumn("__b", bucket)
    val offsets = b.groupBy("__b").agg(sum(value).as("__s"))
      .withColumn("__off", coalesce(
        sum(col("__s")).over(
          Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__b"), col("__off"))
    b.join(broadcast(offsets), "__b")
      .withColumn("running",
        col("__off") + sum(value).over(
          Window.partitionBy("__b").orderBy(order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__b", "__off")
  }
}
