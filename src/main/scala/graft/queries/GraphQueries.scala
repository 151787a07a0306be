package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Graph analytics over a derived co-occurrence graph: parts are nodes,
  * an edge links two parts that appear in the same order. Edge derivation
  * is a self-join on l_orderkey — per-order fanout is bounded by order
  * size (TPC-H ≤ 7 lines), so the edge list is LINEAR in lineitem however
  * big the table; one distinct shuffle dedupes pairs across orders.
  *
  * Complements `dedup_components` (connected components, large/small-star)
  * with the other two classic distributed-graph kernels: fixed-point rank
  * propagation and wedge-based triangle counting.
  *
  * Reference anchor: the reference has no graph operators; this is
  * north-star surface for corpus/link analysis at 100 TB.
  */
object GraphQueries {

  /** The shared co-occurrence EDGE LIST as a read-through artifact: every
    * graph kernel here consumes the same derived symmetric edge table
    * (self-join on l_orderkey + distinct), so it persists once per
    * (ship-date window, fact-content fingerprint) and the kernels read it
    * — the graph-build job vs graph-query split a production deployment
    * runs. The fingerprint scans the FILTERED projection map-side (no
    * distinct — a multiset fp determines the distinct output), so the
    * staleness check costs no shuffle. localCheckpoint on top because
    * every kernel re-reads the edges per iteration. */
  private def coEdges(s: org.apache.spark.sql.SparkSession, d: String,
                      from: String, to: String): org.apache.spark.sql.DataFrame = {
    val raw = Tables.lineitem(s, d)
      .where(col("l_shipdate").between(from, to))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    graft.operators.IndexCache.cachedFrame(s, "co_edges", s"$from..$to",
        graft.operators.IndexCache.tableFp(raw, Seq("o", "p"))) {
      val lp = raw.distinct()
      lp.as("a").join(lp.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
    }
    // (No localCheckpoint on top: the artifact is already a compact
    // columnar table, so each kernel iteration's re-read is a 1-task
    // parquet scan — cheaper than materializing and re-scanning block
    // partitions per run, same finding as mm_video_dedup's catalog.)
  }

  /** Oracle side of [[coEdges]]: the distinct (order, part) pairs `lp`
    * shipped from `from` to `to`, and their co-occurrence edges `ed`. */
  private def coEdgesCtes(from: String, to: String): String =
    "lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem " +
      s"WHERE l_shipdate BETWEEN DATE '$from' AND DATE '$to'), " +
      "ed AS (SELECT DISTINCT a.p AS src, b.p AS dst FROM lp a " +
      "JOIN lp b ON a.o = b.o AND a.p <> b.p)"

  /** Each edge source's out-degree. */
  private val degCte = "deg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY 1)"

  val all: Seq[Q] = Seq(

    // PageRank, 3 unrolled fixed-point iterations over one half-year's
    // co-occurrence graph (per-period graphs are the production shape for
    // co-purchase analysis). Every node has in- and out-edges (the edge
    // list is symmetric), so there is no dangling mass and each iteration
    // is exactly: one edges⋈ranks⋈degree join co-partitioned on src, one
    // sum by dst. Ranks are localCheckpointed per iteration — the same
    // lineage-truncation idiom as connected components; without it
    // iteration k's plan re-embeds every previous iteration. Each
    // iteration's rank is ROUNDED to 9 decimals IN BOTH ENGINES so the
    // next iteration starts from bit-identical inputs — float
    // reassociation across engines (different sum orders) lives at
    // ~1e-20 absolute here, ~11 orders of magnitude below the rounding
    // boundary, so the fixed point is engine-portable. Output: top-100
    // parts by rank (ranks identical ⇒ (r DESC, node) is a total,
    // portable order).
    Q("q_pagerank", {
      val iters = (1 to 3).map(t =>
        s"r$t AS (SELECT e.dst AS node, ROUND(0.15 / (SELECT n FROM n) + " +
          "0.85 * SUM(r.r / d.deg), 9) AS r FROM ed e " +
          s"JOIN r${t - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1)")
      s"WITH ${coEdgesCtes("1995-01-01", "1995-06-30")}, $degCte, " +
        "n AS (SELECT COUNT(*) AS n FROM deg), " +
        "r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM n) AS r FROM deg), " +
        s"${iters.mkString(", ")} " +
        "SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT 100"
    }) { (s, d) =>
      val ed = coEdges(s, d, "1995-01-01", "1995-06-30")
      // deg is read by every iteration (multi-consumer) — checkpoint it;
      // each rank table has exactly ONE consumer (the next iteration), so
      // the unrolled FIXED-depth loop stays a single linear plan — no
      // per-iteration checkpoint jobs (that idiom is for convergence
      // loops of unknown depth, where lineage really does nest without
      // bound — see connectedComponents).
      val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        // localCheckpoint trade (every call in this file): lineage is cut
        // to executor-local storage, so losing an executor fails the query
        // instead of recomputing it.
        .localCheckpoint()
      // |V| is a bounded scalar (node count) — collect it once like a
      // model load instead of re-broadcasting a 1-row frame per round.
      val n = deg.count().toDouble
      var r = deg.select(col("src").as("node"), (lit(1.0) / lit(n)).as("r"))
      for (_ <- 1 to 3) {
        r = ed.join(r, ed("src") === r("node")).join(deg, "src")
          .groupBy(col("dst"))
          .agg(round(lit(0.15 / n) +
            lit(0.85) * sum(col("r") / col("deg")), 9).as("r"))
          .select(col("dst").as("node"), col("r"))
      }
      r.orderBy(col("r").desc, col("node")).limit(100)
    },

    // Triangle counting via DEGREE-ORDERED orientation (the MapReduce
    // classic) on one quarter's co-occurrence edges (a windowed edge set
    // is the production shape — co-purchase graphs are built per period;
    // the window also keeps the oracle cheap while the ALGORITHM carries
    // the scale guarantee): orient every undirected edge from its
    // lower-(deg, id) endpoint to the higher one, generate wedges only
    // from ORIENTED out-edges, and close them with an EQUI-join on the
    // id-canonicalized pair. Out-degree under this orientation is O(√m)
    // whatever the hub skew, so the wedge stage — the quadratic risk in
    // naive triangle counting — is bounded by m^1.5 globally and never
    // explodes on a hot node. Output: one row (wedges examined,
    // triangles closed).
    Q("q_triangle_count",
      s"WITH ${coEdgesCtes("1995-01-01", "1995-03-31")}, $degCte, " +
        "o AS (SELECT e.src, e.dst FROM ed e " +
        "JOIN deg da ON e.src = da.src JOIN deg db ON e.dst = db.src " +
        "WHERE (da.deg, e.src) < (db.deg, e.dst)), " +
        "oc AS (SELECT LEAST(src, dst) AS x, GREATEST(src, dst) AS y FROM o), " +
        "w AS (SELECT LEAST(e1.dst, e2.dst) AS v, GREATEST(e1.dst, e2.dst) AS wn " +
        "FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst) " +
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS wedges, " +
        "CAST(COUNT(*) AS BIGINT) AS triangles " +
        "FROM w JOIN oc ON oc.x = w.v AND oc.y = w.wn") { (s, d) =>
      val ed = coEdges(s, d, "1995-01-01", "1995-03-31")
      val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val o = ed.join(deg.withColumnRenamed("deg", "dega"), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("degb")), "dst")
        .where(struct(col("dega"), col("src")) < struct(col("degb"), col("dst")))
        .select(col("src"), col("dst"))
        .localCheckpoint() // wedge stage + closure probe both re-read it
      // The closing edge's orientation between the wedge tips depends on
      // their (deg, id) order, which the wedge doesn't carry — both sides
      // canonicalize to (min id, max id) so the closure is an EQUI-join.
      val oc = o.select(least(col("src"), col("dst")).as("x"),
        greatest(col("src"), col("dst")).as("y"))
      val w = o.as("e1").join(o.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .select(least(col("e1.dst"), col("e2.dst")).as("v"),
          greatest(col("e1.dst"), col("e2.dst")).as("wn"))
      w.join(oc, oc("x") === w("v") && oc("y") === w("wn"))
        .agg(count(lit(1)).as("triangles"))
        .crossJoin(broadcast(w.agg(count(lit(1)).as("wedges"))))
        .select(col("wedges"), col("triangles"))
    },

    // k-hop reachability (BFS, 3 unrolled hops) from a seed set over the
    // same half-year co-occurrence graph. Each hop expands ONLY the
    // frontier — the nodes first reached last hop — against the edge
    // list (one co-partitioned equi-join + distinct per hop, the
    // frontier idiom that keeps per-hop work proportional to newly
    // reached nodes, not the visited set), then folds into the visited
    // set. Frontier and visited are localCheckpointed per hop (lineage
    // truncation, as in PageRank/components). All outputs are exact
    // integer counts — nothing float-sensitive.
    Q("q_khop_reach",
      s"WITH ${coEdgesCtes("1995-01-01", "1995-06-30")}, " +
        "s0 AS (SELECT DISTINCT src AS node FROM ed WHERE src % 1000 = 0), " +
        "h1 AS (SELECT DISTINCT e.dst AS node FROM ed e JOIN s0 ON e.src = s0.node), " +
        "f1 AS (SELECT node FROM s0 UNION SELECT node FROM h1), " +
        "fr1 AS (SELECT node FROM h1 EXCEPT SELECT node FROM s0), " +
        "h2 AS (SELECT DISTINCT e.dst AS node FROM ed e JOIN fr1 ON e.src = fr1.node), " +
        "f2 AS (SELECT node FROM f1 UNION SELECT node FROM h2), " +
        "fr2 AS (SELECT node FROM h2 EXCEPT SELECT node FROM f1), " +
        "h3 AS (SELECT DISTINCT e.dst AS node FROM ed e JOIN fr2 ON e.src = fr2.node), " +
        "f3 AS (SELECT node FROM f2 UNION SELECT node FROM h3) " +
        "SELECT (SELECT COUNT(*) FROM s0) AS seeds, " +
        "(SELECT COUNT(*) FROM f1) AS reach1, " +
        "(SELECT COUNT(*) FROM f2) AS reach2, " +
        "(SELECT COUNT(*) FROM f3) AS reach3") { (s, d) =>
      val ed = coEdges(s, d, "1995-01-01", "1995-06-30")
      // Frontier width is left to AQE's size-based coalesce: each
      // frontier ends in a distinct/except exchange, so the checkpointed
      // width follows frontier SIZE at any scale (tiny hop → 1 task here,
      // a dense 100-TB hop → many) instead of the former hard-coded
      // `coalesce(1)`, which would serialize a dense hop behind one task.
      // visited stays a shallow union of checkpointed frontiers (≤ 3
      // deep), no checkpoint needed.
      val s0 = ed.where(col("src") % 1000 === 0)
        .select(col("src").as("node")).distinct()
        .localCheckpoint()
      var visited = s0
      var frontier = s0
      val reach = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      for (_ <- 1 to 3) {
        val next = ed.join(frontier, ed("src") === frontier("node"))
          .select(ed("dst").as("node")).distinct()
        frontier = next.except(visited).localCheckpoint()
        visited = visited.unionByName(frontier)
        reach += visited
      }
      val Seq(f1, f2, f3) = reach.result()
      s0.agg(count(lit(1)).as("seeds"))
        .crossJoin(broadcast(f1.agg(count(lit(1)).as("reach1"))))
        .crossJoin(broadcast(f2.agg(count(lit(1)).as("reach2"))))
        .crossJoin(broadcast(f3.agg(count(lit(1)).as("reach3"))))
        .select(col("seeds"), col("reach1"), col("reach2"), col("reach3"))
    },

    // Link prediction by common neighbors + Jaccard: candidate pairs are
    // WEDGES (two edges sharing a center — one self-join of the distinct
    // symmetric edge list on the center node, Σ deg(c)² like triangle
    // counting; at 100 TB the same degree-ordered orientation bounds it),
    // existing edges removed by a LEFT ANTI join, scored cn/(da+db-cn).
    // Top-20 by (jaccard, cn, pair) — a fully deterministic order. The
    // same one-month co-occurrence window as the other graph kernels.
    Q("q_link_prediction",
      s"WITH ${coEdgesCtes("1995-01-01", "1995-06-30")}, $degCte, " +
        "w AS (SELECT e1.dst AS a, e2.dst AS b, COUNT(*) AS cn " +
        "FROM ed e1 JOIN ed e2 ON e1.src = e2.src AND e1.dst < e2.dst " +
        "GROUP BY 1, 2), " +
        "nw AS (SELECT w.* FROM w WHERE NOT EXISTS " +
        "(SELECT 1 FROM ed WHERE ed.src = w.a AND ed.dst = w.b)), " +
        "sc AS (SELECT a, b, cn, ROUND(cn / (da.deg + db.deg - cn), 6) AS jaccard " +
        "FROM nw JOIN deg da ON nw.a = da.src JOIN deg db ON nw.b = db.src) " +
        "SELECT a, b, cn, jaccard FROM sc " +
        "ORDER BY jaccard DESC, cn DESC, a, b LIMIT 20") { (s, d) =>
      val ed = coEdges(s, d, "1995-01-01", "1995-06-30")
      val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val w = ed.as("e1").join(ed.as("e2"),
          col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
        .groupBy(col("e1.dst").as("a"), col("e2.dst").as("b"))
        .agg(count(lit(1)).as("cn"))
      val nw = w.join(ed,
        w("a") === ed("src") && w("b") === ed("dst"), "left_anti")
      nw.join(deg.select(col("src").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("src").as("b"), col("deg").as("db")), "b")
        .select(col("a"), col("b"), col("cn"),
          round(col("cn") / (col("da") + col("db") - col("cn")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("cn").desc, col("a"), col("b"))
        .limit(20)
    },

    // Label-propagation communities (round 9): 3 SYNCHRONOUS iterations of
    // most-frequent-neighbor-label voting, ties broken by the smallest
    // label — deterministic by construction, so the fixed-iteration sync
    // variant (unlike async LPA) is oracle-replayable. Per iteration: one
    // edge⋈labels join, one (node, label)-keyed count, one per-node
    // WindowGroupLimit argmax — every stage keyed, nothing quadratic; the
    // co-occurrence edge list is linear in lineitem (≤7 lines/order).
    // Output: the 50 largest communities after round 3.
    Q("q_label_propagation", {
      def iter(t: Int) =
        s"c$t AS (SELECT e.dst AS node, l.lab, COUNT(*) AS cnt " +
          s"FROM ed e JOIN l${t - 1} l ON e.src = l.node GROUP BY 1, 2), " +
          s"l$t AS (SELECT node, lab FROM (SELECT node, lab, ROW_NUMBER() OVER " +
          s"(PARTITION BY node ORDER BY cnt DESC, lab) AS rn FROM c$t) WHERE rn = 1)"
      s"WITH ${coEdgesCtes("1995-01-01", "1995-06-30")}, " +
        "l0 AS (SELECT DISTINCT src AS node, src AS lab FROM ed), " +
        s"${iter(1)}, ${iter(2)}, ${iter(3)} " +
        "SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_members FROM l3 " +
        "GROUP BY 1 ORDER BY n_members DESC, community LIMIT 50"
    }) { (s, d) =>
      val ed = coEdges(s, d, "1995-01-01", "1995-06-30")
      var labels = ed.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lab"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("cnt").desc, col("lab"))
      // Fixed 3 rounds, each label table consumed exactly once by the
      // next round — a single linear plan, no per-round checkpoint jobs
      // (ed itself is checkpointed above and fans out to all rounds).
      for (_ <- 1 to 3) {
        labels = ed.join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("lab"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("node"), col("lab"))
      }
      labels.groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("community"))
        .limit(50)
    }
  )
}
