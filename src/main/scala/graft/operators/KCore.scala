package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-CORE membership by synchronous peeling — the third face of the
  * graph-cohesion trio (f26 triangles: per-node closure; f28 truss:
  * per-edge triangle support; THIS: the maximal subgraph where every
  * member keeps ≥ k live neighbors — Seidman 1983's degeneracy
  * core, the standard "dense enough to matter" screen investigators
  * run before the expensive per-node metrics).
  *
  * Each synchronous round recomputes degrees over the SURVIVING edge
  * set and drops every node below k; peeling cascades (removing a
  * hub's pendant can sink the hub next round) until a fixed point. A
  * FIXED round count keeps it engine-portable — the DuckDB twin runs
  * the identical rounds as chained CTEs, so membership and in-core
  * degrees hash-gate; the f29 spec asserts the rounds CONVERGED on
  * the gated data (round R ≡ an unbounded driver-side peel).
  *
  * Scale shape: per round ONE node-grain degree aggregate (map-side
  * combined) and TWO semi-joins of the edge set against the node-
  * grain survivor table — the f25/f28 round shape; nothing broadcast,
  * rounds checkpointed and released through [[Rounds]].
  */
object KCore {

  /** Nodes of the k-core after `rounds` synchronous peels, with their
    * in-core degree. `edges`: undirected rows (`src`, `dst`),
    * deduplicated/canonicalized internally, self-loops dropped.
    */
  def membership(
      edges: DataFrame, k: Long, rounds: Int,
      src: String = "src", dst: String = "dst"): DataFrame = {
    require(rounds >= 1, s"kcore: rounds must be >= 1, got $rounds")
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    val e0 = Rounds.pin(edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct(), level = ser)
    // explode instead of unionAll: one scan of the serialized edge
    // checkpoint per degree pass instead of two (r15 — the Triangles
    // census rationale; this runs EVERY peel round)
    def degrees(ed: DataFrame): DataFrame =
      ed.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("d"))
    // the surviving-edge count materializes each peel round.
    // EARLY FIXPOINT EXIT — semantics-preserving, not a shortcut:
    // peeling only ever removes edges, so an unchanged edge count
    // means no node fell below k and every further round is the
    // identity; the remaining rounds the oracle still runs are
    // no-ops on its side too, so the gate is untouched. This is
    // what makes the fixed-round contract affordable at scale — the
    // cascade depth, not the round budget, prices the query.
    val run = Rounds.converge(e0, e0.df.count(), rounds, ser)(
      (e, _) => {
        val keep = degrees(e).filter(col("d") >= k).select(col("node"))
        e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      },
      (next, _) => next.count(),
      _ == _)
    val out = degrees(run.last.df).select(col("node"), col("d"))
      .localCheckpoint()
    run.last.release()
    out
  }

  /** EXACT incremental k-core for an APPEND-ONLY edge batch — the tick
    * twin of [[membership]], the census `perEdgeDeltaDiff` discipline
    * at node grain. Returns the new core's [[Rounds.Pin]]; the caller
    * OWNS its release (the per-face generation rule: a store tick must
    * never release an interactive query's frame).
    *
    * Why a delta is exact here: edge INSERTION is monotone for a fixed
    * k — the k-core only grows, so every old member stays a member —
    * and every connected component of (newCore \ oldCore), induced,
    * must contain an endpoint of a genuinely-new edge (otherwise that
    * component plus the old core had min-degree ≥ k in the OLD graph,
    * contradicting the old core's maximality). So the only nodes whose
    * membership can change are non-members reachable from Δ endpoints
    * through non-members of union-degree ≥ k — a Δ-seeded region, not
    * the corpus. The delta:
    *
    *   1. folds E ∪ Δ with an age tag in ONE aggregate (replayed
    *      batches become the identity — the set-algebra immunity);
    *   2. BFS over ELIGIBLE non-members (union degree ≥ k; nodes below
    *      k can never join) from the Δ endpoints — per round one
    *      broadcast-probed adjacency scan and one eligible-set scan,
    *      the corpus side never shuffles; the region is capped at
    *      `maxRegion` and a blowout FALLS BACK to the full peel
    *      (honest: a region that large means the answer itself changed
    *      at corpus scale, the d15 auto-route discipline);
    *   3. peels ONLY the candidate region to a fixed point — member
    *      support (`degO`) is static through the peel because members
    *      never leave, so each cascade round joins region-bounded
    *      frames only;
    *   4. patches in-core degrees: joiners get degO + in-region degree;
    *      old members get +1 per J-incident edge and per Δ
    *      member–member edge (exactly the edges absent from the old
    *      in-core count), merged with the broadcast anti/semi split so
    *      the stored node-grain table never shuffles.
    *
    * Equals `membership(old ∪ new, k, rounds)` whenever that peel
    * converges (it early-exits at the fixed point; the f29 spec gates
    * convergence) — property-gated over randomized append chains.
    *
    * `oldCore`: (node, d) rows — the previous CONVERGED membership
    * with in-core degrees, exactly [[membership]]'s output.
    */
  def membershipDeltaDiff(
      oldEdges: DataFrame, oldCore: DataFrame, newEdges: DataFrame,
      k: Long, fallbackRounds: Int = 64, maxRegion: Long = 2000000L,
      src: String = "src", dst: String = "dst"): Rounds.Pin = {
    require(k >= 1, s"kcore delta: k must be >= 1, got $k")
    val ser = StorageLevel.MEMORY_AND_DISK_SER
    def canon(df: DataFrame, s: String, d: String) = df
      .select(least(col(s), col(d)).as("a"),
        greatest(col(s), col(d)).as("b"))
      .filter(col("a") =!= col("b"))
    // E ∪ Δ with the age tag in one aggregate (the perEdgeDeltaDiff
    // fold): an edge is new iff NO old row produced it, so replayed
    // batches are structurally absorbed. Consumed by the degree
    // aggregate, every BFS scan and the region edge extraction.
    val all = Rounds.pin(
      canon(oldEdges, src, dst).withColumn("is_new", lit(false))
        .unionAll(canon(newEdges, src, dst).withColumn("is_new", lit(true)))
        .groupBy("a", "b").agg(bool_and(col("is_new")).as("is_new")),
      level = ser)
    def fullPeel(): Rounds.Pin = {
      val out = Rounds.held(membership(all.df.select(col("a"), col("b")), k,
        fallbackRounds, "a", "b"))
      all.release()
      out
    }
    val delta = all.df.filter(col("is_new")).select(col("a"), col("b"))
    val deltaNodes = delta.select(col("a").as("node"))
      .unionAll(delta.select(col("b").as("node"))).distinct()
    if (deltaNodes.isEmpty) { // pure replay: edge set unchanged
      val out = Rounds.pin(oldCore.select(col("node"), col("d")))
      all.release()
      return out
    }
    // eligible non-members: union degree ≥ k (one corpus degree
    // aggregate + one node-grain anti against the old membership) —
    // nodes below k can never join, members never need to
    val cand0 = Rounds.pin(
      all.df.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("du"))
        .filter(col("du") >= k).select(col("node"))
        .join(oldCore.select(col("node")), Seq("node"), "left_anti"),
      level = ser)
    val adj = all.df.select(col("a").as("x"), col("b").as("y"))
      .unionAll(all.df.select(col("b").as("x"), col("a").as("y")))
    // Δ-seeded BFS through the eligible set; the frontier is the
    // seed set itself until the first round grows it
    var visited = Rounds.pin(
      cand0.df.join(broadcast(deltaNodes), Seq("node"), "left_semi"),
      level = ser)
    var frontier = visited
    var nVisited = visited.df.count()
    var frontierEmpty = nVisited == 0
    while (!frontierEmpty) {
      // boundary-sized distinct (the round's one exchange); counted
      // BEFORE broadcasting so a hub frontier can never broadcast a
      // corpus-sized set — it falls back instead
      val nbrs = Rounds.pin(
        adj.join(broadcast(frontier.df.select(col("node").as("x"))),
            Seq("x"), "left_semi")
          .select(col("y").as("node")).distinct(),
        level = ser)
      val nNbrs = nbrs.df.count()
      if (nVisited + nNbrs > maxRegion) {
        Seq(visited, frontier, nbrs, cand0).foreach(_.release())
        return fullPeel()
      }
      val next = Rounds.pin(
        cand0.df.join(broadcast(nbrs.df), Seq("node"), "left_semi")
          .join(broadcast(visited.df), Seq("node"), "left_anti"),
        level = ser)
      nbrs.release()
      val nNext = next.df.count()
      if (nNext == 0) {
        next.release()
        frontierEmpty = true
      } else {
        val nv = Rounds.pin(visited.df.unionAll(next.df), level = ser)
        visited.release(); frontier.release()
        visited = nv
        frontier = next
        nVisited += nNext
      }
    }
    if (frontier ne visited) frontier.release()
    cand0.release()
    if (nVisited == 0) { // no eligible node near Δ: membership is
      // unchanged; only member–member Δ edges can bump in-core degrees
      val deltaMM = delta
        .join(oldCore.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(oldCore.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("inc"))
      val untouched = oldCore.select(col("node"), col("d"))
        .join(broadcast(deltaMM.select(col("node"))),
          Seq("node"), "left_anti")
      val out = Rounds.pin(untouched.unionAll(
        oldCore.select(col("node"), col("d"))
          .join(broadcast(deltaMM), Seq("node"))
          .select(col("node"), (col("d") + col("inc")).as("d"))))
      visited.release(); all.release()
      return out
    }
    // region edges, classified once: x ∈ C always; y tagged member /
    // candidate. degO (member-side support) is static through the peel.
    val bEdgesM = Rounds.pin(
      adj.join(broadcast(visited.df.select(col("node").as("x"))),
          Seq("x"), "left_semi")
        .join(oldCore.select(col("node").as("y")), Seq("y"), "left_semi")
        .select(col("x"), col("y")),
      level = ser)
    val degO = Rounds.pin(
      bEdgesM.df.groupBy(col("x").as("node")).agg(count(lit(1)).as("dgo")),
      level = ser)
    val eCC = Rounds.pin(
      all.df.select(col("a"), col("b"))
        .join(broadcast(visited.df.select(col("node").as("a"))),
          Seq("a"), "left_semi")
        .join(broadcast(visited.df.select(col("node").as("b"))),
          Seq("b"), "left_semi"),
      level = ser)
    // cascade peel of the region only — members never leave, so each
    // round is region-bounded: in-region degree + static degO vs k
    def degCC(av: DataFrame): DataFrame = eCC.df
      .join(broadcast(av.select(col("node").as("a"))), Seq("a"), "left_semi")
      .join(broadcast(av.select(col("node").as("b"))), Seq("b"), "left_semi")
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("dcc"))
    var alive = visited
    var nAlive = nVisited
    var done = false
    while (!done && nAlive > 0) {
      val keep = Rounds.pin(
        alive.df.join(degCC(alive.df), Seq("node"), "left_outer")
          .join(degO.df, Seq("node"), "left_outer")
          .filter(coalesce(col("dcc"), lit(0L)) +
            coalesce(col("dgo"), lit(0L)) >= k)
          .select(col("node")),
        level = ser)
      val nKeep = keep.df.count()
      done = nKeep == nAlive
      if (done) keep.release()
      else {
        alive.release()
        alive = keep; nAlive = nKeep
      }
    }
    // joiners with their in-core degrees; old members patched by the
    // broadcast anti/semi split (the support-merge discipline — the
    // stored node-grain side never shuffles)
    val jRows = alive.df.join(degCC(alive.df), Seq("node"), "left_outer")
      .join(degO.df, Seq("node"), "left_outer")
      .select(col("node"), (coalesce(col("dcc"), lit(0L)) +
        coalesce(col("dgo"), lit(0L))).as("d"))
    val incFromJ = bEdgesM.df
      .join(broadcast(alive.df.select(col("node").as("x"))),
        Seq("x"), "left_semi")
      .select(col("y").as("node"))
    val deltaMM = delta
      .join(oldCore.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(oldCore.select(col("node").as("b")), Seq("b"), "left_semi")
      .select(explode(array(col("a"), col("b"))).as("node"))
    val incs = incFromJ.unionAll(deltaMM)
      .groupBy("node").agg(count(lit(1)).as("inc"))
    val untouched = oldCore.select(col("node"), col("d"))
      .join(broadcast(incs.select(col("node"))), Seq("node"), "left_anti")
    val out = Rounds.pin(untouched
      .unionAll(oldCore.select(col("node"), col("d"))
        .join(broadcast(incs), Seq("node"))
        .select(col("node"), (col("d") + col("inc")).as("d")))
      .unionAll(jRows))
    Seq(alive, visited, bEdgesM, degO, eCC, all).foreach(_.release())
    out
  }

  // one result generation per face: a convenience caller's previous
  // frame is released on the NEXT call, never someone else's — owners
  // needing block custody use membershipDeltaDiff directly
  // (GraphStore.refresh does)
  private val generations = new Rounds.Generations

  /** Caller-friendly face of [[membershipDeltaDiff]]. */
  def membershipDelta(
      oldEdges: DataFrame, oldCore: DataFrame, newEdges: DataFrame,
      k: Long, fallbackRounds: Int = 64, maxRegion: Long = 2000000L,
      src: String = "src", dst: String = "dst"): DataFrame =
    generations.keep("membershipDelta")(membershipDeltaDiff(
      oldEdges, oldCore, newEdges, k, fallbackRounds, maxRegion, src, dst))
}
