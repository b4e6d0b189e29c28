package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup post-processing.
  *
  * The one that matters for a training-data pipeline is connected
  * components: near-dup PAIRS (MinHash/SimHash/embedding) are not yet
  * dedup GROUPS — `a~b` and `b~c` must collapse `{a,b,c}` into one
  * cluster with one survivor, or the keep-list drops too little.
  *
  * Scale shape: the component computation runs ONLY on the edge-induced
  * subgraph. After LSH + verification the edge set is a tiny fraction
  * of the corpus (duplicates, not documents), so the iterative part
  * touches |edges| rows, never corpus rows; the corpus joins in exactly
  * once at the end to label singletons. Iteration is min-label
  * propagation — per round one shuffle join + one min-aggregate, with
  * `localCheckpoint` truncating the lineage so round N's plan doesn't
  * re-run rounds 1..N-1. Rounds are bounded by the component diameter;
  * dedup clusters are shallow (stars around a few templates), so this
  * converges in a handful of rounds. For adversarially long path
  * graphs, swap the propagation body for the large-star/small-star
  * alternation (Kiveris et al., "Connected Components in MapReduce"),
  * which is O(log n) rounds over the same primitives.
  */
/** Signals a components algorithm exceeded its round bound — the ONE
  * condition [[GraphOps.connectedComponentsAuto]] falls back on. A
  * dedicated type so an unrelated IllegalStateException out of Spark
  * internals propagates instead of silently triggering (and hiding its
  * root cause behind) a full star-contraction re-run. */
final class ConvergenceException(msg: String) extends IllegalStateException(msg)

object GraphOps {

  /** Label every vertex of the undirected graph `edges` (columns
    * `src`, `dst`; direction ignored) with the minimum vertex id
    * reachable from it. Returns one row per DISTINCT vertex that
    * appears in an edge: `(id, lbl)`. Deterministic: min-labels are
    * independent of partitioning and join order.
    *
    * @param maxIter hard convergence bound; exceeded ⇒ IllegalStateException
    *                (never silently returns half-propagated labels).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      s"edges needs src/dst columns, got ${edges.columns.mkString(",")}")
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // LAZY checkpoints throughout: the convergence count is the round's
    // only action, so it materializes the checkpoint in the same Spark
    // job — one pass over the labels per round instead of two (eager
    // checkpoint job + count job)
    // Seed each vertex at its NEIGHBORHOOD minimum min(id, N(id)) —
    // one groupBy over the same symmetric edge set the old
    // distinct-ids seed scanned, but it starts the propagation one
    // hop ahead: a star around its minimum converges in a single
    // confirming round instead of propagate+confirm (r21; the labels
    // remain component minima, so the fixpoint — and the min-label
    // contract — is unchanged).
    var labels = und.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), col("src")).as("lbl"))
      .localCheckpoint(false)
    // Convergence check IN-round (r22, VERDICT r21 #6): each round's
    // aggregate carries the vertex's PREVIOUS label through the
    // propagate-union as a second min (labels contributes (lbl, lbl),
    // propagated rows contribute (lbl, null) — one row per vertex
    // exists in `labels`, so `old` is never null after the min). The
    // changed-row count then rides the SAME job that materializes the
    // round's checkpoint: min-propagation is monotone (lbl never
    // increases, the vertex set is fixed), so changed == 0 ⇔ fixpoint.
    // vs the previous shape — a seed-sum job up front plus one re-sum
    // job per round — this drops one driver-synchronous job per q47
    // run on the star-shaped graphs dedup produces (seed is already
    // the fixpoint there: ONE job total instead of seed-sum + confirm)
    // and one job on deeper graphs, without adding any shuffle (the
    // extra column rides the existing groupBy exchange).
    var converged = false
    var iter = 0
    // every round job runs in here over checkpoints: und and the
    // query-scoped frames under `edges` have no reader after the rounds
    try {
      while (!converged && iter < maxIter) {
        val prop = labels.join(und, labels("id") === und("src"))
          .select(und("dst").as("id"), labels("lbl").as("lbl"),
            // null of lbl's exact type, so unionByName coerces nothing
            when(lit(false), labels("lbl")).as("old"))
        val next = prop
          .unionByName(labels.select(col("id"), col("lbl"), col("lbl").as("old")))
          .groupBy("id").agg(min("lbl").as("lbl"), min("old").as("old"))
          .localCheckpoint(false)
        val changed = next.where(col("lbl") < col("old")).count()
        labels = next.select("id", "lbl")
        converged = changed == 0L
        iter += 1
      }
    } finally {
      und.unpersist(): Unit
      CacheRegistry.consumed(edges)
    }
    if (!converged)
      throw new ConvergenceException(
        s"connectedComponents did not converge within $maxIter rounds " +
          "(component diameter exceeds the bound; raise maxIter or use " +
          "star-contraction rounds for path-like graphs)")
    labels
  }

  /** Connected components by large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log n) rounds on ANY graph shape —
    * the safety net for adversarially long paths where min-label
    * propagation ([[connectedComponents]]) needs diameter-many
    * rounds. Same contract: one `(id, lbl)` row per vertex that
    * appears in an edge, `lbl` = component minimum.
    *
    * Round body, both halves one groupBy + one re-emit:
    *  - large-star: every node u computes m = min(N(u) ∪ u) and
    *    re-points its LARGER neighbors at m — long tails collapse
    *    toward small ids without ever breaking connectivity;
    *  - small-star: u re-points its smaller-or-equal neighbors
    *    (and itself) at m — stars around local minima merge.
    * The edge set is kept symmetric between rounds; the fixpoint is
    * a stable edge set (each component collapsed to a star around its
    * minimum), detected by an order-independent edge checksum. */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      s"edges needs src/dst columns, got ${edges.columns.mkString(",")}")
    // parent[v]: current pointer, starts as v's neighborhood minimum
    def neighborhoodMin(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .unionByName(e.select(col("src"), col("src").as("dst")))
        .unionByName(e.select(col("dst").as("src"), col("dst").as("dst")))
        .groupBy("src").agg(min("dst").as("m"))
    // fixpoint = the edge SET stops changing; checked with an
    // order-independent checksum (count + decimal sum of per-edge
    // hashes) — one tiny aggregate over the shrinking edge set,
    // robust regardless of per-round label monotonicity
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    // one checkpoint of the raw projection: BOTH the self-loop ids and
    // the working edge set derive from it, so an expensive upstream
    // lineage (e.g. the verified-pair subtree) is scanned once, not
    // re-executed again by the end-of-call singleton fold
    val raw = edges.select("src", "dst").localCheckpoint(false)
    // self-loops carry no connectivity but DO declare a vertex: keep
    // the ids aside and fold them back at the end as singletons, so
    // the vertex contract matches connectedComponents (which keeps
    // them naturally)
    // cheap existence check first (limit-1 scan of the checkpointed
    // projection, short-circuits at the first self-loop): dedup edge
    // sets normally have none, and the guard removes the distinct +
    // anti-join — and the extra edge scan they imply — from the
    // RETURNED plan, which downstream consumers may execute many times
    val hasSelfLoops = !raw.where(col("src") === col("dst")).isEmpty
    // that job materialized raw: nothing reads `edges` after it
    CacheRegistry.consumed(edges)
    lazy val selfIds = raw.where(col("src") === col("dst"))
      .select(col("src").as("id")).distinct()
    def withSelfLoopSingletons(res: DataFrame): DataFrame =
      if (!hasSelfLoops) res
      else res.unionByName(
        selfIds.join(res.select("id"), Seq("id"), "left_anti")
          .withColumn("lbl", col("id")))
    var e = raw.where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(false)
    if (e.isEmpty) return withSelfLoopSingletons(
      e.select(col("src").as("id"), col("dst").as("lbl")))
    var prev: (Long, java.math.BigDecimal) = (-1L, java.math.BigDecimal.valueOf(-1))
    var iter = 0
    var parents: DataFrame = null
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: (v, m(u)) for v in N(u), v > u
      val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = neighborhoodMin(e)
      val large = und.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      val e1 = large.where(col("src") =!= col("dst")).distinct()
        .localCheckpoint(false)
      // small-star: (v, m(u)) for v in N(u) with v <= u, plus (u, m(u))
      val und1 = e1.unionByName(e1.select(col("dst").as("src"), col("src").as("dst")))
      val mins1 = neighborhoodMin(e1)
      val small = und1.join(mins1, "src")
        .where(col("dst") <= col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mins1.select(col("src"), col("m").as("dst")))
      e = small.where(col("src") =!= col("dst")).distinct()
        .localCheckpoint(false)
      val s = checksum(e)
      converged = s._1 == prev._1 && s._2.compareTo(prev._2) == 0
      prev = s
      iter += 1
    }
    parents = neighborhoodMin(e)
    if (!converged)
      throw new ConvergenceException(
        s"connectedComponentsStar did not converge within $maxIter rounds")
    // at the fixpoint every node's neighborhood min IS the component
    // min: edges form stars around the minima
    withSelfLoopSingletons(
      parents.select(col("src").as("id"), col("m").as("lbl")))
  }

  /** Total connected components: min-label propagation first (cheapest
    * on the shallow star-shaped graphs dedup produces), star
    * contraction as the fallback when the diameter exceeds
    * `propagationIter` — the operator never fails on an adversarial
    * chain, it just switches algorithm. */
  def connectedComponentsAuto(edges: DataFrame,
                              propagationIter: Int = 10,
                              maxIter: Int = 50): DataFrame =
    try connectedComponents(edges, propagationIter)
    catch {
      case _: ConvergenceException => connectedComponentsStar(edges, maxIter)
    }

  /** Attach component labels to a full vertex set: vertices absent from
    * the edge set keep their own id (singleton clusters). `vertices`
    * must expose `idCol`; output adds `cluster_id`. */
  def labelVertices(vertices: DataFrame, idCol: String,
                    components: DataFrame): DataFrame =
    vertices
      .join(components.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col(idCol)))
      .drop("lbl")

  /** Convenience predicate: the canonical survivor of each cluster. */
  def isClusterRep(idCol: String): Column = col(idCol) === col("cluster_id")
}
