package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** SURVEY §2 group B (graph) — iterative graph analytics on the
  * aggregate-then-iterate pattern.
  *
  * The 100 TB shape: derive the edge list from the event log with ONE
  * windowed pass + ONE aggregation (the only stages that touch data-scale
  * input), then iterate on the aggregated graph — which is
  * vocabulary-sized (distinct node pairs), not event-sized. Iterations
  * are tiny broadcast joins; the data-scale work never repeats.
  * d_components (DedupQueries) is the same pattern with a different
  * fixpoint; PageRank adds weighted mass propagation.
  */
object GraphQueries {

  private val damp = 0.85
  private val iters = 10

  val all: Seq[QueryDef] = Seq(

    // B34 — PageRank over the event-type transition graph: nodes are
    // event types, edge weights are observed transition counts per user
    // session stream (same windowed extraction as q_transition_matrix),
    // damping 0.85, 10 fixed iterations from a uniform start. Every node
    // in this graph has in- and out-edges (the transition matrix is
    // dense), so no dangling-mass term is needed — documented semantics:
    // nodes = distinct sources. Both engines run the identical
    // fixed-iteration recurrence; sums are a handful of doubles per node,
    // within the driver's 9-significant-digit float compare.
    QueryDef.sql("q_pagerank",
      s"""WITH RECURSIVE
         |seq AS (SELECT event_type AS src,
         |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM events),
         |edges AS (SELECT src, dst, count(*) AS w FROM seq
         |          WHERE dst IS NOT NULL GROUP BY 1, 2),
         |outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
         |ep AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS p
         |       FROM edges e JOIN outw o USING (src)),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |pr AS (
         |  SELECT 0 AS iter, node, 1.0 / (SELECT n FROM nn) AS r FROM nodes
         |  UNION ALL
         |  SELECT pr.iter + 1, ep.dst AS node,
         |    ${1 - damp} / (SELECT n FROM nn)
         |      + $damp * list_reduce(list(pr.r * ep.p ORDER BY ep.src), (a, b) -> a + b) AS r
         |  FROM pr JOIN ep ON pr.node = ep.src
         |  WHERE pr.iter < $iters
         |  GROUP BY pr.iter, ep.dst)
         |SELECT node, r AS pagerank FROM pr WHERE iter = $iters
         |ORDER BY node""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val edges = Tables.events(s, d)
        .select(col("event_type").as("src"), lead("event_type", 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val outw = edges.groupBy("src").agg(sum("w").as("ow"))
      // edge probabilities: a k²-row table for k event types. Persisting
      // would be overkill; it IS re-derived per iteration lazily, so pin
      // it once — the graph is the loop invariant.
      val ep = edges.join(outw, "src")
        .select(col("src"), col("dst"), (col("w").cast("double") / col("ow")).as("p"))
        .localCheckpoint(true)
      val nd = broadcast(ep.select(col("src").as("node")).distinct()
        .agg(count(lit(1)).as("n")))
      var pr = ep.select(col("src").as("node")).distinct()
        .crossJoin(nd).select(col("node"), (lit(1.0) / col("n")).as("r"))
      // per-dst contribution pinned by src: the k-term double sum's hash
      // order is host-dependent in both engines (round-10 rule)
      for (_ <- 1 to iters)
        pr = ep.join(pr, ep("src") === pr("node"))
          .groupBy(col("dst"))
          .agg(expr("aggregate(array_sort(collect_list(named_struct('src', src, 'v', r * p))), " +
            "CAST(0 AS DOUBLE), (a, x) -> a + x.v)").as("contrib"))
          .crossJoin(nd)
          .select(col("dst").as("node"),
            (lit(1 - damp) / col("n") + lit(damp) * col("contrib")).as("r"))
      pr.select(col("node"), col("r").as("pagerank")).orderBy("node")
    },

    // B51 — triangle count + global clustering coefficient over the
    // part co-purchase graph (parts sharing an order, the classic
    // market-basket projection). The Spark side runs the DEGREE-ORIENTED
    // algorithm — every edge is directed low-degree → high-degree
    // (ties by id), so each triangle is counted exactly once and the
    // two-path join fans out by the SMALL endpoint's degree: the hub
    // that breaks the naive u<v<w self-join at web scale (a degree-10⁶
    // node contributes 10¹² two-paths unoriented, ~degree²/4 oriented
    // across low-degree neighbors). The oracle counts the same triangles
    // with the plain ordered three-way self-join DuckDB can run at this
    // scale. Closed form: coefficient = 3·triangles / Σ deg·(deg−1)/2 —
    // one double division.
    QueryDef.sql("g_triangle_count",
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS dg FROM (
        |          SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |        GROUP BY 1),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM pairs e1 JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
        |                      JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v),
        |st AS (SELECT count(*) AS n_nodes,
        |              CAST(sum(dg * (dg - 1) / 2) AS DOUBLE) AS triplets FROM deg)
        |SELECT st.n_nodes, (SELECT count(*) FROM pairs) AS n_edges,
        |  tri.n_triangles,
        |  3.0 * tri.n_triangles / st.triplets AS clustering_coeff
        |FROM st CROSS JOIN tri""".stripMargin) { (s, d) =>
      // the shared staged edge table IS the pair set (w ≥ 1 = every
      // distinct co-purchase pair); the data-scale self-join runs once
      // per JVM across B51/B64/B71
      val pairs = StagedTables.coEdges(s, d).select("u", "v")
      // r16: degrees from the staged codeg rollup (shared with B71/B104/
      // B106) — each consumer previously re-ran the 2|E|-row aggregate.
      val deg = StagedTables.coDeg(s, d)
      // orient every edge from its lower-degree endpoint (ties by id):
      // the fan-out of the two-path join is bounded by small-side degrees.
      // No broadcast hint: deg IS a node-sized staged parquet,
      // so the 64 MB threshold + AQE broadcast it while it fits and fall
      // back to a shuffled join when the graph outgrows the driver —
      // a forced broadcast here was the r7 verdict's one OOM-at-100× shape.
      val dmap = deg
      val oriented = pairs
        .join(dmap.select(col("node").as("u"), col("dg").as("du")), "u")
        .join(dmap.select(col("node").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("s"),
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("t"))
        .persist()
      // Two-paths from each source (x < y by the t-ordering), probed
      // against the id-ordered closing edge. The orientation is an
      // acyclic tournament, so each triangle has EXACTLY one node with
      // two out-edges — one two-path row per triangle, no dedup needed.
      // The numbered repartition pins the fan-out stage at cluster
      // parallelism: the edge list is megabytes but the two-path fan-out
      // is ~Σ outdeg²/2 rows (30×+ the input here), and AQE sizing by
      // input bytes would run it on 1-2 threads (the dedup-fanout trap).
      // The closing probe side is edge-sized with accurate parquet-derived
      // stats, so the planner broadcasts it under the 64 MB threshold and
      // the fan-out is consumed map-side by the semi probe; past the
      // threshold it degrades to a shuffled left-semi on the packed long
      // instead of OOMing the driver (no forced hint — PlanSpec pins the
      // broadcast at spec scale).
      val fan = s.sparkContext.defaultParallelism
      val src = oriented.repartition(fan, col("s"))
      // pack the candidate pair into ONE long key (ids < 2³¹): the 40M-row
      // fan-out is consumed by a single-long broadcast-hash probe instead
      // of a two-column compare — the probe is the hot loop here
      val pk = (c1: org.apache.spark.sql.Column, c2: org.apache.spark.sql.Column) =>
        shiftleft(c1, 32) + c2
      val twoPath = src.as("e1")
        .join(src.as("e2"), col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
        .select(pk(col("e1.t"), col("e2.t")).as("xy"))
      val closing = oriented.select(
        pk(least(col("s"), col("t")), greatest(col("s"), col("t"))).as("cxy"))
      // BLOOM-pruned closing probe (the B33 operator): once the edge set
      // outgrows the 64 MB broadcast threshold the plain semi-join
      // degrades to a sort-merge that SORTS the whole wedge fan-out —
      // at sf10 that sort spilled past the host's free disk. The Bloom
      // of the closing edges filters the fan-out MAP-SIDE in the join
      // stage itself, so only `triangles + fpp·wedges` rows ever reach
      // an exchange; the trailing exact semi removes the false
      // positives (identical result by construction). fpp loosens as
      // the edge set grows to keep the sketch broadcast-sized — the
      // survivor set stays wedge-fraction-small either way.
      val nEdges = pairs.count() // staged parquet count — footer-cheap
      val tri = graft.operators.Prune.bloomPrunedSemiJoin(
          twoPath, "xy", closing, "cxy",
          expectedKeys = math.max(1000L, nEdges),
          fpp = if (nEdges > 50000000L) 0.05 else 0.01)
        .agg(count(lit(1)).as("n_triangles"))
      val st = deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("dg") * (col("dg") - 1) / 2).cast("double").as("triplets"))
      val ne = pairs.agg(count(lit(1)).as("n_edges"))
      st.crossJoin(ne).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          (lit(3.0) * col("n_triangles") / col("triplets")).as("clustering_coeff"))
    },

    // B64 — common-neighbor link prediction on the part co-purchase
    // graph: top-50 absent edges by (common neighbors, Jaccard). The
    // scale guard is EDGE SPARSIFICATION before any wedge work: only
    // pairs co-purchased in ≥2 orders survive (the D2x df-cap idea
    // applied to edges — weight-1 co-occurrence is noise, and it is what
    // makes the wedge fan-out quadratic in hub degree). On the
    // sparsified graph the wedge join keys on the middle node
    // (hash-distributed), candidates aggregate by the packed pair, the
    // known-edge anti-join and the edge-sized degree dim close it.
    // Jaccard = cn/(du+dv−cn) is one double division over integers;
    // ranking ties break on (u, v).
    QueryDef.sql("g_link_predict",
      """WITH pr AS (
        |  SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u, v FROM pr GROUP BY u, v HAVING count(*) >= 2),
        |adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
        |deg AS (SELECT a AS node, count(*) AS dg FROM adj GROUP BY 1),
        |cand AS (SELECT x.b AS u, y.b AS v, count(*) AS cn
        |         FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b
        |         GROUP BY 1, 2),
        |nw AS (SELECT c.u, c.v, c.cn FROM cand c
        |       WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.u AND e.v = c.v))
        |SELECT nw.u, nw.v, CAST(nw.cn AS BIGINT) AS cn,
        |  CAST(nw.cn AS DOUBLE) / (du.dg + dv.dg - nw.cn) AS jaccard
        |FROM nw JOIN deg du ON du.node = nw.u JOIN deg dv ON dv.node = nw.v
        |ORDER BY cn DESC, jaccard DESC, u, v LIMIT 50""".stripMargin) { (s, d) =>
      // The sparsified edge list (w ≥ 2 — weight-1 co-occurrence is noise,
      // and it is what makes the wedge fan-out quadratic in hub degree)
      // reads from the shared staged co-purchase table: the data-scale
      // self-join runs once per JVM across B51/B64/B71, and everything
      // below — adjacency, both wedge sides, degrees, the anti probe —
      // derives from the graph-sized parquet. No forced broadcasts: each
      // side carries accurate parquet-derived size stats, so the 64 MB
      // threshold + AQE broadcast while the sparsified graph fits and
      // degrade to shuffled joins when it doesn't (the r7-verdict/ADVICE
      // guard — a forced broadcast of a growing edge set is an OOM at
      // 100×, not a plan choice).
      val e = StagedTables.coEdges(s, d).filter(col("w") >= 2).select("u", "v")
      val adj = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
      val deg = adj.groupBy(col("a").as("node")).agg(count(lit(1)).as("dg"))
      // The wedge self-join keys on the middle node; the numbered
      // repartition pins its fan-out at cluster parallelism (AQE would
      // coalesce the MB-sized input to 1-2 tasks — the dedup-fanout trap).
      val fan = s.sparkContext.defaultParallelism
      val cand = adj.repartition(fan, col("a")).as("x")
        .join(adj.as("y"),
          col("x.a") === col("y.a") && col("x.b") < col("y.b"))
        .groupBy(col("x.b").as("u"), col("y.b").as("v"))
        .agg(count(lit(1)).as("cn"))
      val nw = cand.join(e, Seq("u", "v"), "left_anti")
      val scored = nw
        .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
        .select(col("u"), col("v"), col("cn").cast("long").as("cn"),
          (col("cn").cast("double") / (col("du") + col("dv") - col("cn"))).as("jaccard"))
      graft.operators.Relational.topKByAgg(scored, 50,
        Seq(col("cn").desc, col("jaccard").desc, col("u"), col("v")))
    },

    // B71 — degree distribution of the co-purchase graph: the audit that
    // decides every other graph operator's cost model (B51's orientation
    // and B64's sparsification are both bets about this histogram's
    // tail). Same packed-key pair dedup as B51 — the only data-scale
    // stage — then node degrees and a degree-frequency rollup; the
    // distribution table is max-degree-sized. Integer end to end.
    QueryDef.sql("g_degree_dist",
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS dg FROM (
        |          SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |        GROUP BY 1)
        |SELECT dg AS degree, count(*) AS n_nodes
        |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin) { (s, d) =>
      // shared staged edge table (see StagedTables.coEdges): B71 re-reads the
      // same parquet B51/B64 stage instead of re-running the pair dedup —
      // the r7 verdict's 4.2×-over-oracle gap was exactly that re-run
      // r16: degrees come from the staged codeg rollup (shared with
      // B106) — the histogram is a node-dim aggregate over it.
      StagedTables.coDeg(s, d)
        .groupBy(col("dg").as("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },

    // B85 — k-core decomposition (k=4) of the co-purchase graph: the
    // densest-cohesion filter under the B71 histogram (degree says how
    // many neighbors a node has; coreness says how many SURVIVE when
    // weakly-attached nodes peel away — the standard community-core
    // preprocessing before expensive per-cluster work). Iterative peel
    // over the STAGED edge table (operators.KCore — each round one degree
    // aggregate + two semi-joins, checkpointed; round count = the graph's
    // degeneracy depth, a handful in practice). Recursive deletion is not
    // monotone-CTE-expressible in the oracle engine ⇒ rows-only;
    // PropertySpec proves parallel whole-graph peeling equals a
    // sequential brute-force peel on random graphs — the property that
    // makes the distributed algorithm correct at any scale.
    QueryDef.rowsOnly("g_kcore") { (s, d) =>
      // whole-graph degrees from the staged codeg rollup (shared with
      // B71/B104/B106) — the peel then starts from node-dim state and
      // touches the edge table only on rounds that remove nodes (r17)
      graft.operators.KCore.kcore(StagedTables.coEdges(s, d).select("u", "v"), k = 4,
          deg0 = Some(StagedTables.coDeg(s, d)
            .select(col("node").as("u"), col("dg"))))
        .orderBy("node")
    },

    // B104 — LOCAL clustering coefficient (B51's global coefficient, per
    // node: how closed is each part's co-purchase neighborhood — the
    // community-tightness signal). EDGE-CENTRIC intersection, not a
    // wedge join (the r11 sf1 lesson: this row materialized ~2×10⁸
    // two-path rows to find ~10⁵ triangles — 122 s at sf1; B51 survives
    // the same fan-out only because its semi-probe consumes it map-side,
    // while the corner-crediting inner join did not): orient every edge
    // low-degree → high-degree as before, build each node's OUT-adjacency
    // array once (bounded by ~√m per node under the orientation), then
    // per edge (s,t) the triangles through it are exactly
    // array_intersect(N⁺(s), N⁺(t)) — each triangle found once at its
    // base edge, inside whole-stage codegen, with nothing wedge-sized
    // ever materialized or shuffled. Corners credit s and t with the
    // intersection size and each witness with 1, straight into the
    // node-dim partial agg. Triangle SET identical to the oracle's
    // id-ordered triple join, so corner credits agree exactly.
    // Top-20 by (lcc DESC, node) — node breaks exact-ratio ties totally.
    QueryDef.sql("g_local_clustering",
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |          SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |        GROUP BY 1),
        |trit AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |         FROM pairs e1 JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
        |                       JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v),
        |pt AS (SELECT node, CAST(count(*) AS BIGINT) AS tri
        |       FROM (SELECT unnest([a, b, c]) AS node FROM trit) GROUP BY 1)
        |SELECT node, dg, tri,
        |  CAST(tri AS DOUBLE) / (dg * (dg - 1) / 2) AS lcc
        |FROM pt JOIN deg USING (node) WHERE dg >= 2
        |ORDER BY lcc DESC, node LIMIT 20""".stripMargin) { (s, d) =>
      val pairs = StagedTables.coEdges(s, d).select("u", "v")
      // r16: degrees from the staged codeg rollup — the node-dim parquet
      // carries real size stats, so the two deg joins below broadcast
      // while the node dim fits (the g_assortativity SMJ lesson).
      val deg = StagedTables.coDeg(s, d)
      val oriented = pairs
        .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("s"),
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("t"))
        .persist()
      val adjOut = oriented.groupBy(col("s").as("n"))
        .agg(collect_list(col("t")).as("nbrs")) // ≤ ~√m per node (oriented)
      val withSets = oriented
        .join(adjOut.select(col("n").as("s"), col("nbrs").as("ns")), "s")
        .join(adjOut.select(col("n").as("t"), col("nbrs").as("nt")), "t")
        .select(col("s"), col("t"),
          array_intersect(col("ns"), col("nt")).as("ws"))
        .filter(size(col("ws")) > 0) // only closing edges survive
      val credits = withSets.select(explode(concat(
          array(
            struct(col("s").as("node"), size(col("ws")).cast("long").as("c")),
            struct(col("t").as("node"), size(col("ws")).cast("long").as("c"))),
          transform(col("ws"), w => struct(w.as("node"), lit(1L).as("c")))))
          .as("p"))
      val tri = credits.groupBy(col("p.node").as("node"))
        .agg(sum(col("p.c")).as("tri"))
      graft.operators.Relational.topKByAgg(
        tri.join(deg, "node").filter(col("dg") >= 2)
          .select(col("node"), col("dg"), col("tri"),
            (col("tri").cast("double") / (col("dg") * (col("dg") - 1) / 2)).as("lcc")),
        20, Seq(col("lcc").desc, col("node")))
    },

    // B106 — degree ASSORTATIVITY of the co-purchase graph (do hubs
    // connect to hubs? — the single scalar that separates social-style
    // from technological-style graphs, and the structural context for
    // B51/B104's clustering numbers): Pearson correlation of endpoint
    // degrees over DIRECTED edge instances (each edge counted both ways,
    // the standard convention). Every sum is an exact BIGINT over the
    // edge-dim table (degrees are small integers; the dg³ moment rows
    // stay under 2⁶³ below ~2·10⁶-degree hubs — the node dim itself),
    // one double closed form at the end. r16: the oracle's adj⋈deg⋈deg
    // form materialized 2|E| directed
    // rows and sort-merge-joined them TWICE (sf10 StageProfile: 78.7 s +
    // 18.3 s join stages, 3.2 GB shuffled — 97 of 110 s solo). Algebra
    // removes both joins for four of the five sums: over directed edge
    // instances node a appears exactly deg(a) times, so n = Σdeg,
    // sx = sy = Σdeg², sxx = syy = Σdeg³ — node-dim aggregates over the
    // degree table. Only the cross-moment sxy needs edge×degree
    // alignment: one pass over the UNDIRECTED staged pairs with the
    // node-dim degree table broadcast twice (nodes = the part dimension,
    // broadcastable at any fact scale), doubled (each undirected pair
    // contributes dx·dy + dy·dx). Exact BIGINT totals are identical sums
    // of identical integers, so the closed-form doubles match the oracle
    // bit-for-bit.
    QueryDef.sql("g_assortativity",
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
        |          SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |        GROUP BY 1),
        |adj AS (SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs),
        |e AS (SELECT da.dg AS x, db.dg AS y FROM adj
        |      JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
        |             CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*y) AS BIGINT) AS sxy
        |      FROM e)
        |SELECT n, (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
        |  (sqrt(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) *
        |   sqrt(CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)) AS assortativity
        |FROM m""".stripMargin) { (s, d) =>
      val pairs = StagedTables.coEdges(s, d).select("u", "v")
      // node-dim degrees: the staged codeg rollup (shared with B71 —
      // each consumer previously paid the 2|E|-row aggregate itself)
      val deg = StagedTables.coDeg(s, d)
      // n/sx/sy/sxx/syy collapse to degree-table moments (see header):
      // node `a` occurs deg(a) times among directed edge instances.
      val mom = deg.agg(sum("dg").as("n"),
        sum(col("dg") * col("dg")).as("sx"),
        sum(col("dg") * col("dg") * col("dg")).as("sxx")).head()
      // Empty-graph guard (r16 ADVICE): sum() over an empty degree table
      // is null — mirror the old single-aggregate form's answer (one row,
      // n = 0, null assortativity) instead of an NPE at getLong.
      if (mom.isNullAt(0))
        s.sql("SELECT CAST(0 AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS assortativity")
      else {
        val (nE, sxM, sxxM) = (mom.getLong(0), mom.getLong(1), mom.getLong(2))
        // the one sum that needs edge×degree alignment: Σ_adj x·y =
        // 2·Σ_pairs deg(u)·deg(v). NO forced broadcast (r16 verdict item 5:
        // the node dim is the part dimension and SCALES with sf — a forced
        // hint OOMs the driver at 100 TB; the staged codeg parquet carries
        // real size stats, so the 64 MB threshold + AQE broadcast it for as
        // long as it fits and degrade to a shuffle join when it doesn't).
        val sxy = pairs
          .join(deg.select(col("node").as("u"), col("dg").as("x")), "u")
          .join(deg.select(col("node").as("v"), col("dg").as("y")), "v")
          .agg((sum(col("x") * col("y")) * 2L).as("sxy")).head().getLong(0)
        import s.implicits._
        Seq((nE, sxM, sxM, sxxM, sxxM, sxy))
          .toDF("n", "sx", "sy", "sxx", "syy", "sxy")
          .selectExpr("n",
            """(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) /
              |(sqrt(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx) *
              | sqrt(CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)) AS assortativity""".stripMargin)
      }
    },

    // B119 — BFS hop distances from the minimum-id node over the strong
    // (w ≥ 2) co-purchase graph: single-source shortest paths in hops —
    // the reachability primitive under B34's global rank and D6's
    // components ("HOW FAR is everything from here", not just "is it
    // connected"). Aggregate-then-iterate (§5): the staged edge table is
    // built once; each of the ≤ 8 rounds is a frontier⋈edges equi-join
    // with an anti-join against the visited set — both frontier-sized,
    // never data-scale — pinned per round with an eager localCheckpoint
    // so lineage stays flat. The oracle is DuckDB's recursive CTE over
    // the identical edge construction; dist caps at 8 on both sides so
    // the recursion is bounded by construction.
    QueryDef.sql("g_bfs_levels",
      """WITH RECURSIVE pr AS (
        |  SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u, v FROM pr GROUP BY u, v HAVING count(*) >= 2),
        |adj AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |src AS (SELECT min(u) AS s0 FROM e),
        |bfs AS (
        |  SELECT s0 AS node, CAST(0 AS BIGINT) AS dist FROM src
        |  UNION
        |  SELECT adj.b, bfs.dist + 1 FROM bfs JOIN adj ON adj.a = bfs.node
        |  WHERE bfs.dist < 8)
        |SELECT node, min(dist) AS dist FROM bfs
        |GROUP BY node ORDER BY dist, node""".stripMargin) { (s, d) =>
      val e = StagedTables.coEdges(s, d).filter(col("w") >= 2).select("u", "v")
      val adj = e.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e.select(col("v").as("a"), col("u").as("b")))
        .localCheckpoint(true)
      var visited = e.agg(min("u").as("node"))
        .select(col("node"), lit(0L).as("dist")).localCheckpoint(true)
      var frontier = visited
      var i = 1
      // each localCheckpoint is eager, so the emptiness probe is free —
      // an exhausted frontier ends the sweep instead of burning the
      // remaining rounds on empty joins (the sparse-graph case)
      while (i <= 8 && !frontier.isEmpty) {
        frontier = frontier.join(adj, frontier("node") === adj("a"))
          .select(col("b").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(i.toLong).as("dist"))
          .localCheckpoint(true)
        visited = visited.unionAll(frontier).localCheckpoint(true)
        i += 1
      }
      visited.select(col("node"), col("dist")).orderBy("dist", "node")
    },

    // B128 — connected-components summary of the strong co-purchase
    // graph: node count, component count, giant-component size and
    // share — the fragmentation scalar over B119's reachability (a GCC
    // share near 1 says the catalog cross-sells as one market; near 0
    // says islands). Reuses operators.Dedup.components (min-label
    // propagation + pointer jumping, O(log n) rounds) on the staged
    // edge table; the summary is two dim-sized aggregates over the
    // label frame. Oracle = the same recursive-CTE walk as B119/D6.
    QueryDef.sql("g_components_summary",
      """WITH RECURSIVE pr AS (
        |  SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u, v FROM pr GROUP BY u, v HAVING count(*) >= 2),
        |edges AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
        |walk AS (
        |  SELECT a AS node, a AS reach FROM edges
        |  UNION
        |  SELECT w.node, ed.b FROM walk w JOIN edges ed ON w.reach = ed.a),
        |lab AS (SELECT node, min(reach) AS comp FROM walk GROUP BY node),
        |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM lab GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_components,
        |  CAST(sum(sz) AS BIGINT) AS n_nodes,
        |  CAST(max(sz) AS BIGINT) AS gcc_size,
        |  CAST(max(sz) AS DOUBLE) / sum(sz) AS gcc_share
        |FROM cs""".stripMargin) { (s, d) =>
      val e = StagedTables.coEdges(s, d).filter(col("w") >= 2).select("u", "v")
      val lab = graft.operators.Dedup.components(e, "u", "v")
      val cs = lab.groupBy("component").agg(count(lit(1)).cast("long").as("sz"))
      cs.agg(count(lit(1)).cast("long").as("n_components"),
          sum("sz").cast("long").as("n_nodes"),
          max("sz").cast("long").as("gcc_size"),
          (max("sz").cast("double") / sum("sz")).as("gcc_share"))
    }
  )
}
