package graft.ops.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Materialize

/** Connected components over an undirected edge list by min-label
  * propagation — the canonical FINAL stage of a MinHash/LSH dedup
  * pipeline (SlimPajama/Dolma-style): verified near-dup pairs form
  * edges, each component is one duplicate cluster, and the member
  * with the smallest id is the cluster's canonical representative
  * (everything else gets dropped or downweighted).
  *
  * Each superstep is ONE shuffle (edge join + min-aggregate over the
  * neighbor labels); the loop stops when no label shrank — checked
  * with a driver-side count, the standard bounded-iteration pattern
  * of every distributed CC. Supersteps to converge = graph diameter.
  * Dedup graphs are near-cliques (LSH surfaces most pairs of a
  * cluster directly), so real corpora close in 2-3 supersteps; for
  * adversarial long-chain graphs the large-star/small-star variant
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014) converges in O(log n) supersteps with the same
  * join+min building block. State per superstep is one (id, label)
  * row per vertex — nothing driver-side, nothing quadratic.
  */
object ConnectedComponents {

  /** Components of the undirected graph given by (id_a, id_b) edge
    * rows. Returns one (id, component) row per vertex that appears in
    * at least one edge, where component = min vertex id reachable.
    *
    * Storage contract: the returned frame is leaf-cached (an eager
    * localCheckpoint — materialized, lineage-free); every internal
    * intermediate (edge checkpoint, superseded supersteps) is freed
    * before returning, so exactly ONE persisted RDD remains. The
    * caller must free it with `ConnectedComponents.release(result)`
    * once done — see release() for the durability caveat.
    *
    * Superstep economy (each exchange is wall time at any scale):
    *   - self-loops are unioned into the edge list ONCE, so a
    *     superstep is exactly join(labels on v) + groupBy(u).min —
    *     the vertex's own label rides the same aggregation as its
    *     neighbors' and no second "keep own label" join exists;
    *   - the first superstep is fused into initialization
    *     (label0 = min(self, direct neighbors) from one groupBy);
    *   - convergence is sum(component): labels only ever decrease,
    *     so the sum strictly decreases iff anything changed — a
    *     cached-scan aggregate instead of a join-and-count.
    * Intermediate labels are eagerly leaf-checkpointed per superstep
    * and their storage released as soon as the successor exists —
    * lineage stays one superstep deep, so no stack-overflow plans on
    * long chains. */
  /** Free a leafCache'd frame's stored blocks NOW (delegates to the
    * shared [[graft.ops.Materialize.release]]). The checkpointed RDD
    * sits behind the plan's LogicalRDD leaf; its lineage is
    * truncated, so this is only safe once the frame's DATA is no
    * longer needed — internally when a superstep is superseded, and
    * for the RETURNED labels frame when the CALLER is done with it
    * (write/collect finished): both minLabel and alternatingStar
    * return a leaf-cached frame whose storage is freed only by this
    * call (or, eventually, by driver GC + ContextCleaner — a slow
    * leak in a long-lived session that loops over CC jobs). */
  def release(df: DataFrame): Unit =
    graft.ops.Materialize.release(df)

  /** [[minLabel]], then LOCALIZE: materialize the labels (component
    * members only — corpus-sublinear; near-dup components are a tiny
    * fraction of any real corpus), RELEASE the superstep checkpoint
    * storage, and return the labels as a self-contained local
    * relation. The returned frame pins NOTHING — no
    * cached/checkpointed blocks outlive this call — so query-shaped
    * callers (q132 SemDeDup) that cannot call release() after their
    * consumer's action get deterministic cleanup anyway. At cluster
    * scale set [[graft.ops.Materialize.StagingDirKey]] and the
    * localize step becomes a staging-table write (bit-equal to the
    * collect path — OpsSpec proves it) instead of a driver
    * materialization; either way the sublinear frame broadcast-joins
    * downstream for free. */
  def minLabelLocalized(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val comp = minLabel(edges, maxIter)
    try graft.ops.Materialize.localize(comp) finally release(comp)
  }

  /** INCREMENTAL maintenance: fold a batch of NEW edges into standing
    * (id, component) labels without re-running CC over the full graph
    * — the daily-crawl shape where yesterday's labels are a table and
    * today's verified near-dup edges are the increment.
    *
    * Sound because a minLabel component's label IS its minimum member
    * id: contract every standing component to its label node, map each
    * new edge endpoint to its label (itself when unseen), run
    * min-label CC on the CONTRACTED graph — increment-sized, never
    * corpus-sized — and relabel. A contracted component's min over
    * {standing labels ∪ new ids} equals the min id of the merged
    * member set, so the output is bit-identical to
    * `minLabel(oldEdges ∪ newEdges)` (spec-asserted on merge/attach/
    * fresh/untouched cases).
    *
    * Work: two increment-keyed joins + CC over the contracted edges +
    * one labels-table join for the relabel. Nothing proportional to
    * the full edge history.
    *
    * @param labels   standing (id, component), component = min member
    *                 id (any minLabel/alternatingStar output)
    * @param newEdges (id_a, id_b); endpoints may be unseen ids
    * @return (id, component) for standing ∪ new ids */
  def incremental(labels: DataFrame, newEdges: DataFrame,
                  maxIter: Int = 20): DataFrame = {
    // the edge increment is referenced twice (contraction + new-id
    // detection) and its upstream is often a whole LSH/verification
    // pipeline: evaluate it ONCE into a leaf, release after both
    // eager consumers below have run (the q177 discipline)
    val ne = Materialize.leafCache(
      newEdges.select(col("id_a"), col("id_b")))
    val la = labels.select(col("id").as("id_a"), col("component").as("__ca"))
    val lb = labels.select(col("id").as("id_b"), col("component").as("__cb"))
    val contractedEdges = ne
      .join(la, Seq("id_a"), "left")
      .join(lb, Seq("id_b"), "left")
      .select(coalesce(col("__ca"), col("id_a")).as("id_a"),
        coalesce(col("__cb"), col("id_b")).as("id_b"))
    // affected-components-only labels; localized (increment-sublinear)
    val contracted = minLabelLocalized(contractedEdges, maxIter)
    val newIds = ne.select(col("id_a").as("id"))
      .union(ne.select(col("id_b").as("id"))).distinct()
      .join(labels.select("id"), Seq("id"), "left_anti")
    // increment-sublinear: localize so the returned frame's (possibly
    // multi-consumer) plan never re-reads the edge pipeline
    val fresh = graft.ops.Materialize.localize(
      newIds.join(contracted, Seq("id")).select("id", "component"))
    graft.ops.Materialize.release(ne)
    // relabel is increment-sublinear and already localized — broadcast
    // it EXPLICITLY so the standing labels table (the corpus-sized
    // side; bucketed via LabelStore at scale) never shuffles here
    // regardless of stats
    val relabel = broadcast(contracted
      .select(col("id").as("component"), col("component").as("__newc")))
    val standing = labels.join(relabel, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__newc"), col("component")).as("component"))
    standing.unionByName(fresh)
  }

  def minLabel(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // the input edge list is referenced three times below (two union
    // directions + self-loops): cache it, or the caller's upstream
    // pipeline (often a whole LSH+verification chain) re-evaluates
    // per reference
    val e = edges.select(col("id_a").as("ea"), col("id_b").as("eb")).cache()
    // both directions + one self-loop per vertex; no distinct — the
    // min-aggregate is duplicate-blind and a corpus-wide distinct
    // would be a wasted exchange
    val dir = e.select(col("ea").as("u"), col("eb").as("v"))
      .union(e.select(col("eb").as("u"), col("ea").as("v")))
    // localCheckpoint, NOT cache: a cached plan short-circuits
    // execution but the optimizer still walks the FULL upstream tree
    // (the whole LSH pipeline) on every superstep, and the label
    // lineage nests one level per iteration — driver planning time
    // swamps the actual 300-row joins (measured 2-3x the whole query).
    // The eager checkpoint makes the edge list a leaf. On a cluster,
    // reliable checkpoint()/a staging table is the durable variant.
    // Also hash-partition on the probe key ONCE: the checkpointed
    // partitioning satisfies the per-superstep join's distribution, so
    // each superstep shuffles only the label frame (|V| rows), never
    // the edges (|E| rows) — the dominant frame of any real graph.
    val und = dir
      .union(dir.select(col("u"), col("u").as("v")).distinct())
      .repartition(col("v"))
      .localCheckpoint()
    e.unpersist()
    // numeric vertex ids required (dedup uses longs); empty graph -> 0
    def sumOf(df: DataFrame): Long =
      df.agg(coalesce(sum(col("component")), lit(0L))).head().getLong(0)
    // superstep 0: min over self + direct neighbors. Labels are
    // leaf-cached per superstep: a plain cached frame still nests the
    // previous superstep's PLAN, and 20+ nested join/agg levels blow
    // up driver planning and memory — the leaf keeps every
    // superstep's plan two nodes deep, and the superseded superstep
    // is released as soon as its successor is materialized.
    var labels = Materialize.leafCache(und.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("component")))
    var prevSum = sumOf(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = Materialize.leafCache(und
        .join(labels.select(col("id").as("v"), col("component")), "v")
        .groupBy(col("u").as("id")).agg(min(col("component")).as("component")))
      val s = sumOf(next) // next is already materialized (eager checkpoint)
      release(labels)
      labels = next
      converged = s == prevSum
      prevSum = s
      it += 1
    }
    // fail LOUDLY: stopping at maxIter on a graph whose diameter
    // exceeds it would silently mislabel components (a 1000-link
    // chain needs 1000 supersteps here). Use alternatingStar for
    // unknown-diameter graphs — O(log n) rounds.
    require(converged,
      s"minLabel did not converge in $maxIter supersteps — graph diameter " +
        "exceeds maxIter; use ConnectedComponents.alternatingStar")
    // the edge checkpoint outlived its last superstep — free it NOW
    // instead of waiting for driver GC (the round-6 advisory leak)
    release(und)
    labels
  }

  /** Components by alternating large-star / small-star (Kiveris et
    * al., SoCC 2014) — O(log n) rounds regardless of graph DIAMETER,
    * vs min-label propagation's diameter-many supersteps. The variant
    * for adversarial topology (long chains: linked boilerplate pages,
    * citation paths); for typical dedup graphs (near-cliques) prefer
    * minLabel — fewer, cheaper rounds.
    *
    *   large-star: every node connects its LARGER neighbors to its
    *     minimum neighborhood member — per edge row, a window-min
    *     over the node's partition (no collect of neighbor lists, so
    *     a billion-degree hub never materializes in one task);
    *   small-star: on (lo <= hi)-oriented edges, every node connects
    *     its smaller neighbors and itself to the minimum.
    *
    * Both passes are shuffle-bounded (window over the node key +
    * distinct), the edge set only ever moves toward stars centered
    * at component minima, and each round is leaf-cached (constant
    * plan depth) with the superseded round released eagerly.
    * Convergence is EXACT: same edge count and empty set-difference
    * vs the previous round. Returns (id, component) like minLabel,
    * including vertices whose only edges are self-loops. Same storage
    * contract as minLabel: ONE leaf-cached result, all intermediates
    * freed; the caller releases the result via `release`. */
  def alternatingStar(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = edges
      .select(least(col("id_a"), col("id_b")).as("lo"),
        greatest(col("id_a"), col("id_b")).as("hi"))
      .cache()
    // vertices whose only edges are self-loops must still be labeled
    // (minLabel emits them; parity matters for callers switching
    // between the two) — captured BEFORE the self-loop filter
    var e = Materialize.leafCache(canon.filter(col("lo") =!= col("hi")).distinct())
    val selfOnly = Materialize.leafCache(canon.select(col("lo").as("id")).distinct()
      .join(e.select(explode(array(col("lo"), col("hi"))).as("id")).distinct(),
        Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component")))
    // selfOnly is already materialized (eager checkpoint), so canon
    // can be released immediately
    canon.unpersist()
    def largeStar(cur: DataFrame): DataFrame = {
      val both = cur.select(col("lo").as("u"), col("hi").as("v"))
        .union(cur.select(col("hi").as("u"), col("lo").as("v")))
      both
        .withColumn("m",
          least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct()
    }
    def smallStar(cur: DataFrame): DataFrame = {
      val withM = cur.withColumn("m",
        min(col("lo")).over(Window.partitionBy(col("hi"))))
      withM.select(col("m").as("lo"), col("hi"))
        .union(withM.select(col("m").as("lo"), col("lo").as("hi")))
        .filter(col("lo") =!= col("hi"))
        .distinct()
    }
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = Materialize.leafCache(smallStar(largeStar(e)))
      converged = next.count() == e.count() &&
        next.except(e).limit(1).count() == 0
      release(e)
      e = next
      it += 1
    }
    require(converged, s"alternatingStar did not converge in $maxIter rounds")
    // converged stars: (center, v) edges; centers appear only on the
    // lo side
    val members = e.groupBy(col("hi").as("id"))
      .agg(min(col("lo")).as("component"))
    val centers = e.select(col("lo")).distinct()
      .join(e.select(col("hi").as("lo")).distinct(), Seq("lo"), "left_anti")
      .select(col("lo").as("id"), col("lo").as("component"))
    // materialize the result as its own leaf so the final round's
    // star edges and the selfOnly side frame can be freed NOW — the
    // caller holds exactly one persisted RDD (released via release())
    val result = Materialize.leafCache(members.unionByName(centers).unionByName(selfOnly))
    release(e)
    release(selfOnly)
    result
  }
}
