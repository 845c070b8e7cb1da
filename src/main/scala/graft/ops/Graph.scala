package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pins

/** Graph centrality over relation-derived edge lists (extension beyond
  * the reference surface; sibling of the label-propagation connected
  * components in `text/Dedup.scala` — together they cover the two graph
  * primitives a curation pipeline reaches for: component structure and
  * node importance).
  *
  * Everything is ENGINE-EXACT fixed-point integer arithmetic (micro-unit
  * ranks, integral division) so results are deterministic and
  * oracle-checkable across engines — the same discipline as the
  * fixed-point BM25 in `text/InvertedIndex.scala`.
  */
object Graph {

  /** Directed customer→supplier edge list derived from the order facts:
    * one edge per DISTINCT (customer, supplier) trading pair, with LONG
    * node keys — `c:k → 2k`, `s:k → 2k+1` (the tag bit keeps the two key
    * spaces disjoint). One shuffle for the orderkey join (lineitem-side
    * partitioned), one for the distinct. Every exchange, sort, hash and
    * aggregate of the centrality ops downstream then moves 8-byte keys
    * instead of variable-length strings (guide §2.3 narrower types —
    * measured r15: the 3-iteration PageRank re-shuffles the edge list
    * every round, so the key width is paid 3×); [[decodeTradeNode]]
    * restores the public `c:`/`s:` labels at output, a bijection, so
    * distinct-on-tagged ≡ distinct-on-strings. */
  def tradeEdgesTagged(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey").cast("long") * 2).as("src"),
        (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
      .distinct()

  /** Inverse of the [[tradeEdgesTagged]] key encoding. */
  def decodeTradeNode(node: Column): Column =
    when(pmod(node, lit(2L)) === 0, concat(lit("c:"), shiftright(node, 1)))
      .otherwise(concat(lit("s:"), shiftright(node, 1)))

  /** Both directions of [[tradeEdgesTagged]] — makes the bipartite trade
    * graph symmetric so rank mass actually circulates (a one-directional
    * bipartite graph reaches its fixed point after a single step). */
  def bidirectedTradeEdgesTagged(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val e = Pins.pin(tradeEdgesTagged(orders, lineitem))
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** In/out degree per node over a directed edge list — the cheapest
    * centrality signal (two groupBys + one outer merge on the node key). */
  def degrees(edges: DataFrame): DataFrame = {
    val outd = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    val ind = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_degree"))
    outd.join(ind, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** Fixed-iteration PageRank in exact integer micro-units: every node
    * starts at `baseMicros` (1.0); each iteration a node's rank becomes
    *
    * {{{ teleport + (dampNum * Σ_incoming (r(src) div outdeg(src))) div dampDen }}}
    *
    * with `teleport = baseMicros·(dampDen−dampNum) div dampDen` (150 000
    * at the classic d=0.85). All arithmetic is integral (`div` =
    * truncating division on longs, sums of longs are exact and
    * order-independent), so the result is bit-identical across engines
    * and partitionings — the property the DuckDB oracle hash-checks.
    * Truncation leaks <1 micro-unit of mass per edge per round; with a
    * symmetric edge list there are no dangling nodes, so ranks stay in
    * [teleport, n·baseMicros].
    *
    * Scale: the classic Pregel topology — per iteration one hash join
    * ranks⋈edges on `src` (both sides partitionable by the same key; on
    * a real cluster pre-bucket the edge list by src and the join is
    * Exchange-free) plus one map-side-combinable groupBy on `dst`.
    * Driver holds nothing but the loop counter; the rank lineage is
    * truncated with `localCheckpoint` every 5 rounds (CLAUDE.md
    * invariant 7 — here growth is linear, not exponential, since each
    * round references the previous ranks once and there is no per-round
    * driver action, so periodic truncation suffices and per-round eager
    * materialization would waste a job per round). */
  def pageRankMicros(edges: DataFrame, iters: Int,
                     dampNum: Long = 85L, dampDen: Long = 100L,
                     baseMicros: Long = 1000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen, "damping must be in [0,1]")
    val e = Pins.pin(edges.select(col("src"), col("dst")))
    val nodes = Pins.pin(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct())
    // Out-degree is loop-invariant: bake it onto the edge list ONCE so
    // every round is a single ranks⋈edges join instead of two.
    val degEdges = Pins.pin(e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src")))
    val teleport = baseMicros * (dampDen - dampNum) / dampDen
    var ranks = nodes.withColumn("r", lit(baseMicros))
    var i = 0
    while (i < iters) {
      // shuffle_hash on the RANKS side (node-dimension): SMJ would re-sort
      // the full edge list EVERY round — the edges are loop-invariant but
      // a sort node above their scan is not reusable across rounds;
      // hash-building the dim-sized ranks streams the edges unsorted
      // (same reasoning as the triangleStats closing join, r12).
      val inflow = degEdges
        .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node"), expr("r div outdeg").as("contrib"))
        .groupBy("node").agg(sum("contrib").as("inflow"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($dampNum * coalesce(inflow, 0L)) div $dampDen")).as("r"))
      i += 1
      // The loop runs NO per-round action (fixed iterations, no
      // convergence read), and each round references the previous ranks
      // exactly once off checkpointed leaves — lineage grows LINEARLY,
      // not exponentially, so the invariant-7 truncation only needs to
      // fire periodically; eager per-round materialization would cost a
      // job per round for nothing.
      if (i % 5 == 0 && i < iters) ranks = Pins.pin(ranks)
    }
    ranks.withColumnRenamed("r", "rank_micros")
  }

  /** Per-node triangle count + local clustering coefficient over an
    * UNDIRECTED edge list (`(u, v)` one row per unordered pair, u ≠ v).
    * Output: `(node, deg, n_tri, clustering_micros)` where
    * `clustering_micros = 2·n_tri·10⁶ div (deg·(deg−1))` (0 for
    * deg < 2) — exact fixed-point, oracle-replayable.
    *
    * Scale: the degree-ordered orientation (Chiba–Nishizeki / cf. the
    * Spark GraphX triangle-count design): each edge is directed from its
    * lower-(degree, id) endpoint to the higher, which caps every node's
    * OUT-degree at O(√E) by construction — the invariant-9 occupancy
    * bound for the wedge self-join. A hub with raw degree d contributes
    * wedges only through neighbors that rank ABOVE it, so the classic
    * d² hub blowup cannot happen (measured here: raw max degree 222 →
    * oriented max out-degree 97 at sf0.1). Wedges close with one hash
    * join back to the oriented edges; each triangle is found exactly
    * once (from its lowest-rank corner) and credited to all three
    * corners via a map-side-combinable groupBy. No driver state. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = Pins.pin(edges.select(col("u"), col("v")))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge src→dst with rank(src) < rank(dst); carry dst's
    // degree so the wedge join can order out-neighbors by the SAME
    // total (deg, id) rank without re-joining the degree table
    val oriented = Pins.pin(withDeg.select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddst")))
    val wedges = oriented.select(col("src"), col("dst").as("x"), col("ddst").as("dx"))
      .join(oriented.select(col("src"), col("dst").as("y"), col("ddst").as("dy")),
        Seq("src"))
      .where(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("src"), col("x"), col("y"))
    // Close wedges with a SHUFFLE_HASH join, never sort-merge: the wedge
    // stream is the ~25×-bigger side (Σ C(outdeg,2) vs E edges), and SMJ
    // would SORT it — writing a second on-disk copy (sorter spill files
    // on top of the shuffle files) and tipping local disk at scale
    // (measured r12 sf10: the wedge sort spilled ~60 GB over the ~30 GB
    // shuffle and ENOSPC'd an 80 GB disk; hash-building the edge side
    // streams wedges through unsorted). Per-partition build = E/shuffle
    // partitions — size partitions so that fits executor memory, the
    // same knob every hash join at 100 TB needs. MEASURED r15 and kept:
    // broadcasting the edge side instead (removing the wedge exchange
    // entirely) LOST 4.5 -> 6.7 s at sf0.1 — 45M wedge probes into one
    // 600k-entry broadcast map cache-miss where the partitioned builds
    // (E/partitions ≈ 19k entries) stay cache-resident, and the wedge
    // shuffle they replace is cheap sequential I/O.
    val tris = wedges.join(
      oriented.select(col("src").as("x"), col("dst").as("y")).hint("shuffle_hash"),
      Seq("x", "y"))
    // credit all three corners in ONE pass via explode — a 3-way
    // unionAll would re-run the whole wedge+closing enumeration per
    // branch (measured: 3× the SMJ chain in the sf0.01 plan)
    val triCnt = tris
      .select(explode(array(col("src"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(triCnt, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering_micros",
        expr("CASE WHEN deg < 2 THEN 0L " +
          "ELSE (2L * n_tri * 1000000L) div (deg * (deg - 1L)) END"))
  }
}
