package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Neighbor-based attribute fill — the reference's `-data-fill`
 * (`/root/reference/src/commands/mapshaper-data-fill.mjs:14`, weighted
 * contagion over the polygon-neighbors graph,
 * `src/polygons/mapshaper-polygon-neighbors.mjs`).
 *
 * Spark form: iterate joins over an adjacency table — each round, every
 * still-null feature adopts the modal value of its already-filled neighbors
 * (ties broken by smallest value — deterministic). The loop runs on the
 * driver; each round is one shuffle-light join + window. Converges in
 * O(graph diameter) rounds.
 */
object DataFill {

  /**
   * @param features  (id, value) — value nullable
   * @param adjacency (a, b) undirected neighbor pairs (both directions or one;
   *                  symmetrized internally)
   * @return (id, value) with nulls filled where reachable
   */
  def fill(spark: SparkSession, features: DataFrame, adjacency: DataFrame,
           idCol: String = "id", valueCol: String = "value",
           maxRounds: Int = 20): DataFrame = {
    val adj = Materialize(adjacency.select(col("a"), col("b"))
      .union(adjacency.select(col("b").as("a"), col("a").as("b")))
      .distinct(), eager = true)
    val start = Materialize(
      features.select(col(idCol).as("id"), col(valueCol).as("value")), eager = true)
    contagion(start, adj, maxRounds) { votes =>
      val filledNeighbors = votes.groupBy(col("id"), col("nval")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("id")).orderBy(col("c").desc, col("nval"))
      filledNeighbors
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("id").as("fid"), col("nval"))
    }
  }

  /**
   * The contagion rounds of [[fill]] and [[fillWeighted]]: each round, every
   * null `value` of `start` (id, value) takes the value that `winner` picks
   * from `votes` — one row per (null id, adjacency row of `adj` leading to a
   * filled neighbour), with the neighbour's value as `nval`. `winner`
   * returns (fid, nval). Stops when nothing is null, after `maxRounds`, or
   * when a round fills nothing (the rest is disconnected). The loop runs on
   * the driver, one materializing job per round.
   */
  private def contagion(start: DataFrame, adj: DataFrame, maxRounds: Int)
                       (winner: DataFrame => DataFrame): DataFrame = {
    var cur = start
    var round = 0
    var remaining = cur.filter(col("value").isNull).count()
    while (remaining > 0 && round < maxRounds) {
      val votes = cur.filter(col("value").isNull).select(col("id"))
        .join(adj, col("id") === adj("a"))
        .join(cur.filter(col("value").isNotNull)
          .select(col("id").as("nid"), col("value").as("nval")), col("b") === col("nid"))
      val chosen = winner(votes)
      val next = Materialize(cur.join(chosen, cur("id") === chosen("fid"), "left")
        .select(cur("id"), coalesce(cur("value"), col("nval")).as("value")), eager = true)
      val nextRemaining = next.filter(col("value").isNull).count()
      if (nextRemaining == remaining) round = maxRounds // no progress: disconnected
      remaining = nextRemaining
      cur = next
      round += 1
    }
    cur
  }

  /**
   * Full-fidelity `-data-fill`: border-length-weighted contagion with
   * value-set group pooling, a perimeter-smoothing pass, and optional
   * contiguous-island removal — the reference's three phases
   * (`mapshaper-data-fill.mjs:31-45`: dataFillEmpty → dataFillSmooth →
   * dataFillIslandGroups).
   *
   * @param features  (id, value[, weight]) — `valueCol` nullable; the
   *                  optional `weightCol` ranks contiguous groups (the
   *                  reference's `weight_field=`; when absent the rank
   *                  weight is the unit count — pass shape areas to match
   *                  the reference's area fallback)
   * @param adjacency (a, b, w) undirected neighbor edges; `w` is the shared
   *                  border length (the reference weights donor votes by
   *                  `geom.calcPathLen` of each shared arc,
   *                  `mapshaper-data-fill.mjs:236-262`)
   *
   * Shuffle story: each round is equi-joins + aggregations on (id, value,
   * weight) tuples; geometry stays out of every exchange. The loop runs on
   * the driver, O(graph diameter) rounds, plan reset per round (same
   * contagion loop as [[fill]]).
   *
   * Deterministic deviations from the reference (which is traversal-order
   * dependent): weight ties break on smallest value; the smoothing pass is
   * simultaneous over all originally-empty units rather than sequential
   * in shape order; island-group ties break on smallest component id.
   */
  def fillWeighted(spark: SparkSession, features: DataFrame, adjacency: DataFrame,
                   idCol: String = "id", valueCol: String = "value",
                   weightCol: Option[String] = None,
                   contiguous: Boolean = false,
                   maxRounds: Int = 20): DataFrame = {
    val adj = Materialize(adjacency.select(col("a"), col("b"), col("w"))
      .union(adjacency.select(col("b").as("a"), col("a").as("b"), col("w")))
      .distinct(), eager = true)

    // phase 1 (and the refill after island removal): weighted group contagion
    def fillEmpty(start: DataFrame): DataFrame = contagion(start, adj, maxRounds) { v =>
      val votes = v.groupBy(col("id"), col("nval")).agg(sum(col("w")).as("vw"))
      // the reference pools weights across all empty units that see the
      // same sorted set of donor values, then assigns the group winner to
      // every member (mapshaper-data-fill.mjs:57-77)
      val keys = votes.groupBy(col("id"))
        .agg(concat_ws("~", sort_array(collect_set(col("nval")))).as("gkey"))
      val pooled = votes.join(keys, Seq("id"))
        .groupBy(col("gkey"), col("nval")).agg(sum(col("vw")).as("gw"))
      val w = Window.partitionBy(col("gkey")).orderBy(col("gw").desc, col("nval"))
      val winners = pooled.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).select(col("gkey"), col("nval"))
      keys.join(winners, Seq("gkey")).select(col("id").as("fid"), col("nval"))
    }

    val base = Materialize(
      features.select(col(idCol).as("id"), col(valueCol).as("value")), eager = true)
    val wasEmpty = Materialize(
      base.filter(col("value").isNull).select(col("id").as("eid")), eager = true)
    var cur = fillEmpty(base)

    // phase 2: perimeter smoothing — an originally-empty unit with >= 2
    // distinct neighbor values moves to the border-weight winner. The
    // reference sweeps units sequentially in id order, each decision seeing
    // earlier updates (mapshaper-data-fill.mjs:110-127) — a simultaneous
    // pass would oscillate on chains. Replicated here as a dependency
    // wavefront: a unit decides once every smaller-id formerly-empty
    // neighbor has decided, so it sees exactly the reference's partially-
    // updated state. The min pending id is always ready, so each round
    // retires at least one unit; in realistic topologies (random ids on a
    // planar mesh) rounds ~ O(log n). Past `maxRounds` the remainder
    // resolves simultaneously (documented cutoff).
    def smoothVotes(ids: DataFrame): DataFrame = {
      val votes = ids
        .join(adj, col("eid") === adj("a"))
        .join(cur.filter(col("value").isNotNull)
          .select(col("id").as("nid"), col("value").as("nval")), col("b") === col("nid"))
        .groupBy(col("eid"), col("nval")).agg(sum(col("w")).as("vw"))
      val sw = Window.partitionBy(col("eid")).orderBy(col("vw").desc, col("nval"))
      votes
        .withColumn("_nvals", count(lit(1)).over(Window.partitionBy(col("eid"))))
        .withColumn("_rn", row_number().over(sw))
        .filter(col("_rn") === 1 && col("_nvals") >= 2)
        .select(col("eid"), col("nval").as("sval"))
    }
    def applySmooth(decided: DataFrame): Unit = {
      cur = Materialize(cur.join(decided, cur("id") === decided("eid"), "left")
        .select(cur("id"), coalesce(col("sval"), cur("value")).as("value")), eager = true)
    }
    var pending = wasEmpty
    var sRound = 0
    var nPending = pending.count()
    while (nPending > 0 && sRound < maxRounds) {
      val blocked = pending.as("p")
        .join(adj, col("p.eid") === adj("a"))
        .join(pending.select(col("eid").as("qid")).as("q"),
          col("b") === col("qid") && col("qid") < col("p.eid"))
        .select(col("p.eid")).distinct()
      val ready = Materialize(pending.join(blocked, Seq("eid"), "left_anti"), eager = true)
      applySmooth(smoothVotes(ready))
      pending = Materialize(pending.join(ready, Seq("eid"), "left_anti"), eager = true)
      nPending = pending.count()
      sRound += 1
    }
    if (nPending > 0) applySmooth(smoothVotes(pending)) // cutoff: simultaneous

    // phase 3: contiguous — per value keep only the max-weight connected
    // group; null out satellite islands, then refill the gaps
    if (contiguous) {
      val nonNull = cur.filter(col("value").isNotNull)
      val sameValEdges = adj
        .join(nonNull.select(col("id").as("ida"), col("value").as("va")), col("a") === col("ida"))
        .join(nonNull.select(col("id").as("idb"), col("value").as("vb")), col("b") === col("idb"))
        .filter(col("va") === col("vb"))
        .select(col("a").as("u"), col("b").as("v"))
      val comps = ConnectedComponents.label(spark,
        nonNull.select(col("id")), sameValEdges)
      val unitW = weightCol match {
        case Some(wc) => features.select(col(idCol).as("id"), col(wc).cast("double").as("uw"))
        case None => features.select(col(idCol).as("id"), lit(1.0).as("uw"))
      }
      val groupW = comps.join(nonNull.select(col("id"), col("value")), Seq("id"))
        .join(unitW, Seq("id"))
        .groupBy(col("value").as("gval"), col("comp")).agg(sum(col("uw")).as("gw"))
      val kw = Window.partitionBy(col("gval")).orderBy(col("gw").desc, col("comp"))
      val keep = groupW.withColumn("_rn", row_number().over(kw))
        .filter(col("_rn") === 1).select(col("gval"), col("comp").as("kcomp"))
      val cleared = Materialize(cur
        .join(comps.select(col("id").as("cid"), col("comp")), cur("id") === col("cid"), "left")
        .join(keep, cur("value") === keep("gval"), "left")
        .select(cur("id"),
          when(col("comp").isNotNull && col("comp") =!= col("kcomp"), lit(null))
            .otherwise(cur("value")).as("value")), eager = true)
      cur = fillEmpty(cleared)
    }
    cur
  }
}
