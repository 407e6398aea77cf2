"""KG-query operators over triples the engine constructs from relational input.

The reference pipeline STOPS at triple materialization (initial_pipeline's
JSON triple dump); a knowledge graph someone built is immediately queried —
pattern matching, traversal, centrality, serialization. This module adds that
query surface as first-class oracled operators, exercised on a triple table
derived deterministically from the TPC-H-ish driver tables (so the DuckDB
oracle can mirror every step):

    (c:<custkey>)   -[placed]->      (o:<orderkey>)      from orders
    (o:<orderkey>)  -[contains]->    (p:<partkey>)       from lineitem, distinct
    (o:<orderkey>)  -[supplied_by]-> (s:<suppkey>)       from lineitem, distinct
    (c:<custkey>)   -[located_in]->  (n:<nationkey>)     from customer
    (s:<suppkey>)   -[located_in]->  (n:<nationkey>)     from supplier

Scale posture, per operator:
- triple build: projections + one hash-agg distinct per lineitem-derived
  predicate (map-side partial agg; subj/pred/obj are short strings, never
  payload columns).
- traversal (g02): frontier expansion is a per-hop equi-join on the edge key;
  AQE converts the join to broadcast when the frontier is small (the common
  case for seeded traversal) and falls back to shuffle when it is not —
  no collect, no driver-side frontier.
- degree (g03): two partial-agg counts + one outer join, all keyed by node.
- triangles (g04): DEGREE-ORDERED edge orientation (Chiba-Nishizeki /
  "rank by (degree, id)") before the wedge join — on a skewed web graph this
  caps every node's oriented out-degree near sqrt(|E|), so the wedge join
  cannot explode on hubs the way a naive (a<b) orientation does. The wedge
  join and the closing-edge semi-join are both equi-joins on node ids.
- PageRank (g05): the node and edge lists are pinned once; within the
  driver budget the power iteration runs on the driver (a nation graph has
  at most 625 weighted edges) and the ranks return as a local frame. Over
  budget the edge frame with precomputed out-weights is persisted and each
  of the K unrolled iterations is one join + one partial-agg sum keyed by
  dst; rank frames are O(nodes), partitioned by node, and AQE broadcasts
  the (tiny) rank side into the edge join. Dangling mass is dropped
  (identically in the oracle).
- N-Triples export (g06): pure string concat/escape in the projection —
  whole-stage codegen, no shuffle beyond the shared triple build.
- sameAs resolution (g08): CC over the sameAs graph only (sized by the alias
  population, not the triple count): within the driver-CC budget a driver
  union-find builds the mapping rows directly, over it kgx.canon's
  large-star CC does; then one node-keyed mapping join per side; the
  mapping is the same broadcast-dictionary shape as the pipeline's
  proponent rewrite.
- transitive closure (g09): semi-naive Datalog — each round joins only the
  new frontier pairs and anti-joins the found set, so work is O(closure),
  never O(walks); per-round localCheckpoint caps lineage.
- entity docs (g10): one node-keyed hash agg with map-side partial collect;
  sort is per-group (bounded by out-degree), never global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx.ops import load
from kgx.util import driver_rows, fits_driver, local_frame, sized_pin

# ---------------------------------------------------------------------------
# shared triple construction (Spark + the mirroring SQL CTE)
# ---------------------------------------------------------------------------


def _node(prefix: str, col) -> F.Column:
    return F.concat(F.lit(prefix + ":"), F.col(col).cast("string"))


def kg_triples(spark: SparkSession, sf: str) -> DataFrame:
    """The unified (subj, pred, obj) string triple table described above."""
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    cust = load(spark, sf, "customer")
    supp = load(spark, sf, "supplier")
    placed = orders.select(
        _node("c", "o_custkey").alias("subj"),
        F.lit("placed").alias("pred"),
        _node("o", "o_orderkey").alias("obj"),
    )
    contains = li.select(
        _node("o", "l_orderkey").alias("subj"),
        F.lit("contains").alias("pred"),
        _node("p", "l_partkey").alias("obj"),
    ).distinct()
    supplied = li.select(
        _node("o", "l_orderkey").alias("subj"),
        F.lit("supplied_by").alias("pred"),
        _node("s", "l_suppkey").alias("obj"),
    ).distinct()
    c_loc = cust.select(
        _node("c", "c_custkey").alias("subj"),
        F.lit("located_in").alias("pred"),
        _node("n", "c_nationkey").alias("obj"),
    )
    s_loc = supp.select(
        _node("s", "s_suppkey").alias("subj"),
        F.lit("located_in").alias("pred"),
        _node("n", "s_nationkey").alias("obj"),
    )
    return (
        placed.unionByName(contains)
        .unionByName(supplied)
        .unionByName(c_loc)
        .unionByName(s_loc)
    )


_TRIPLES_CTE = """
triples AS (
  SELECT 'c:' || o_custkey AS subj, 'placed' AS pred, 'o:' || o_orderkey AS obj
  FROM orders
  UNION ALL
  SELECT DISTINCT 'o:' || l_orderkey, 'contains', 'p:' || l_partkey FROM lineitem
  UNION ALL
  SELECT DISTINCT 'o:' || l_orderkey, 'supplied_by', 's:' || l_suppkey FROM lineitem
  UNION ALL
  SELECT 'c:' || c_custkey, 'located_in', 'n:' || c_nationkey FROM customer
  UNION ALL
  SELECT 's:' || s_suppkey, 'located_in', 'n:' || s_nationkey FROM supplier
)
"""


# --- g01: construct the KG triple table ------------------------------------ #
def g01_kg_triples(spark: SparkSession, sf: str) -> DataFrame:
    return kg_triples(spark, sf)


G01_SQL = f"WITH {_TRIPLES_CTE} SELECT subj, pred, obj FROM triples"


# --- g02: seeded 2-hop traversal (SPARQL-BGP-style chain) ------------------- #
N_SEED_SUPPLIERS = 5


def g02_two_hop_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    """Customers within two hops of the seed suppliers:
    supplier <-[supplied_by]- order <-[placed]- customer.

    Both hops are equi-joins on the shared order node; the seed filter is a
    literal isin Catalyst pushes into the scan side of the union.
    """
    t = kg_triples(spark, sf)
    seeds = [f"s:{i}" for i in range(1, N_SEED_SUPPLIERS + 1)]
    hop1 = (
        t.filter((F.col("pred") == "supplied_by") & F.col("obj").isin(seeds))
        .select(F.col("obj").alias("supplier"), F.col("subj").alias("order_node"))
    )
    hop2 = t.filter(F.col("pred") == "placed").select(
        F.col("obj").alias("order_node"), F.col("subj").alias("customer")
    )
    return hop1.join(hop2, "order_node").select("supplier", "customer").distinct()


G02_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT DISTINCT h1.obj AS supplier, h2.subj AS customer
FROM triples h1
JOIN triples h2 ON h2.pred = 'placed' AND h2.obj = h1.subj
WHERE h1.pred = 'supplied_by'
  AND h1.obj IN ({", ".join(f"'s:{i}'" for i in range(1, N_SEED_SUPPLIERS + 1))})
"""


# --- g03: node degree ------------------------------------------------------- #
def g03_node_degree(spark: SparkSession, sf: str) -> DataFrame:
    """One degree shuffle, one triple-build execution: each triple explodes
    into two (node, is_out, is_in) indicator rows summed under a single
    node-keyed hash agg. This replaces the two-agg + full-outer-join
    formulation (6 exchanges) AND the naive subj/obj union (5 exchanges —
    the union re-executed the triple build, with its two distincts, once
    per side); the explode walks the triple table once, so the plan is the
    build's 2 distinct exchanges + 1 degree exchange, with the map-side
    partial agg compacting the doubled row stream before the shuffle. The
    oracle keeps the textbook outer-join SQL — same values, independent
    derivation.

    The batch query IS the incremental view's base case — one shared
    explode-indicator implementation (degree_delta), so a fix to the degree
    formulation can't diverge the batch answer from the maintained view it
    is pinned against."""
    return merge_degree_view(None, degree_delta(kg_triples(spark, sf)))


G03_SQL = f"""
WITH {_TRIPLES_CTE},
o AS (SELECT subj AS node, COUNT(*) AS out_deg FROM triples GROUP BY subj),
i AS (SELECT obj AS node, COUNT(*) AS in_deg FROM triples GROUP BY obj)
SELECT COALESCE(o.node, i.node) AS node,
       COALESCE(out_deg, 0) AS out_deg,
       COALESCE(in_deg, 0) AS in_deg,
       COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS deg
FROM o FULL OUTER JOIN i ON o.node = i.node
"""


# --- g04: per-node triangle counts (degree-ordered orientation) ------------- #
def count_triangles(edges: DataFrame) -> DataFrame:
    """(a, b) undirected simple edges -> (node, tri_cnt) for nodes in >=1
    triangle. Orientation ranks nodes by (degree, id) and points every edge
    at the higher rank, so a hub of degree d contributes wedges only through
    its few higher-ranked neighbors — the standard bound that keeps the wedge
    join sub-quadratic on power-law graphs. Each triangle is emitted exactly
    once as (u, v, w) with rank(u) < rank(v) < rank(w).
    """
    # pin the slim edge list before fan-out: `und` feeds both the degree agg
    # and the orientation join, and `ranked` feeds the wedge join twice plus
    # the closing semi-join twice — without the checkpoints the whole
    # upstream edge-derivation pipeline re-executes once per branch (~14
    # plan copies observed at sf0.01). Same idiom as canon's CC edge pin:
    # (a, b) id pairs only, never payload.
    edges = edges.select("a", "b").localCheckpoint()
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("deg"))
    ranked = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
        .localCheckpoint()
    )
    wedges = ranked.alias("e1").join(
        ranked.alias("e2"),
        (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") < F.col("e2.b")),
    ).select(
        F.col("e1.a").alias("u"), F.col("e1.b").alias("v"), F.col("e2.b").alias("w")
    )
    # NB: e1.b < e2.b is a plain string tie-break to emit each wedge once; the
    # closing edge (v, w) may be oriented either way under the rank order, so
    # the semi-join checks both directions via the symmetric closure
    closing = ranked.select(
        F.col("a").alias("v"), F.col("b").alias("w")
    ).union(ranked.select(F.col("b").alias("v"), F.col("a").alias("w")))
    tris = wedges.join(closing, ["v", "w"], "left_semi")
    # one pass over tris: explode each triangle into its three members
    # instead of unioning three projections — the union re-executed the
    # wedge join + closing semi-join once PER BRANCH (3 plan copies, 13
    # final-plan exchanges at sf0.01); the explode walks the triangle set
    # once (5 exchanges), same fix as g03's degree formulation
    members = tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return members.groupBy("node").agg(F.count("*").alias("tri_cnt"))


def g04_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangles in the co-supply graph: suppliers are adjacent when they
    supply the same order. Pair generation is per-order and bounded by the
    max lineitems per order (TPC-H: 7), so it cannot blow up on wide rows.

    Density caveat (measured): TPC-H's uniform supplier assignment makes
    this graph approach COMPLETE as SF grows (sf0.1: 453,588 of 499,500
    possible edges, 91% dense, 143 s on local[16]) — on an actually-dense
    graph wedge work is Θ(n³) and no orientation can help; the
    degree-orientation bound (out-degree ≲ sqrt(|E|)) is about sparse
    power-law graphs, which is what real co-occurrence graphs are. The
    scale-up witness therefore replicates sf0.01 into DISJOINT copies
    (bench/scaleup_bench.py graph leg): work grows linearly in copies with
    a flat exchange count, which is the property that matters at 100 TB."""
    li = load(spark, sf, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), _node("s", "l_suppkey").alias("s")
    ).distinct()
    edges = (
        os_.alias("x")
        .join(os_.alias("y"), "o")
        .filter(F.col("x.s") < F.col("y.s"))
        .select(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .distinct()
    )
    return count_triangles(edges)


G04_SQL = """
WITH os AS (SELECT DISTINCT l_orderkey AS o, 's:' || l_suppkey AS s FROM lineitem),
edges AS (
  SELECT DISTINCT x.s AS a, y.s AS b FROM os x JOIN os y ON x.o = y.o AND x.s < y.s
),
und AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY a),
ranked AS (
  SELECT u.a, u.b FROM und u
  JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b
  WHERE da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
),
tris AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM ranked e1 JOIN ranked e2 ON e1.a = e2.a AND e1.b < e2.b
  WHERE EXISTS (
    SELECT 1 FROM ranked c
    WHERE (c.a = e1.b AND c.b = e2.b) OR (c.a = e2.b AND c.b = e1.b)
  )
),
members AS (
  SELECT u AS node FROM tris UNION ALL SELECT v FROM tris UNION ALL SELECT w FROM tris
)
SELECT node, COUNT(*) AS tri_cnt FROM members GROUP BY node
"""


# --- g05: PageRank over the nation trade graph (K unrolled iterations) ------ #
PR_ITERS = 3
PR_DAMPING = 0.85
# node + edge rows cap of pagerank's driver regime: half the measured
# crossover (bench/driver_regime_bench.py g05, local[4]: driver 0.9 s vs 3.3 s
# over Spark at 50k rows, 1.7 vs 3.0 at 100k, even at 200k, 6.0 vs 4.4 at 400k)
PR_DRIVER_MAX_ROWS = 100_000


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS,
             damping: float = PR_DAMPING) -> DataFrame:
    """nodes(node), edges(src, dst, weight) -> (node, rank) after ``iters``
    weighted power iterations from a uniform start; dangling mass is dropped
    (the oracle mirrors that definition exactly). ``nodes`` holds each node
    once; no nodes give no rows.

    Two regimes, same rows. The node and edge lists are pinned together
    once, as one tagged graph relation, either way.
    - Driver (the graph relation fits the driver budget and
      PR_DRIVER_MAX_ROWS, kgx.util.driver_rows): the iteration runs in Python over the collected
      rows (_pagerank_on_driver) and the ranks come back as a local frame.
      A 25-node trade graph took 30 Spark jobs as unrolled join+sum rounds,
      almost all of it scheduling latency; here it is the edge build, the
      pin and one collect.
    - Distributed (over budget): the normalized edge frame is persisted and
      each iteration is one join + one sum keyed by dst, with rank frames
      partitioned by node.
    Both round the rank with the same Spark ``round`` (HALF_UP) as the
    last step, so the regimes differ only in summation order below the
    sixth decimal; the driver sums with ``math.fsum`` (correctly rounded,
    whatever the order).
    """
    g = edges.select("src", "dst", "weight", F.lit(False).alias("is_node"))
    g = g.unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.lit(None).cast("string").alias("dst"),
            F.lit(None).cast("double").alias("weight"),
            F.lit(True).alias("is_node"),
        )
    )
    nbytes = sum(F.coalesce(F.octet_length(c), F.lit(0)) for c in ("src", "dst"))
    g, rows = driver_rows(g, nbytes + 8, max_rows=PR_DRIVER_MAX_ROWS)
    if rows is not None:
        ranks = _pagerank_on_driver(
            [r[0] for r in rows if r[3]], [r[:3] for r in rows if not r[3]],
            iters, damping,
        )
        return _local_ranks(nodes.sparkSession, ranks)

    nodes = g.filter("is_node").select(F.col("src").alias("node"))
    edges = g.filter(~F.col("is_node")).select("src", "dst", "weight")
    n = nodes.count()
    if n == 0:
        return _local_ranks(nodes.sparkSession, [])
    norm = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    enorm = edges.join(norm, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("share")
    )
    enorm = enorm.persist()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for i in range(iters):
        # pin every few iterations: each unrolled step nests a join+agg over
        # the previous rank plan, and past ~8 levels the analyzer cost and
        # lineage depth grow superlinearly (the same reason canon's CC loop
        # checkpoints per round). O(nodes) rows, so the pin is cheap.
        if i and i % 4 == 0:
            ranks = ranks.localCheckpoint()
        contrib = (
            enorm.join(ranks, enorm.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("share") * F.col("rank")).alias("inflow"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "rank"
            ),
        )
    out = ranks.select("node", F.round("rank", 6).alias("rank"))
    out = out.localCheckpoint()  # pin before releasing the edge frame
    enorm.unpersist()
    return out


def _local_ranks(spark, ranks: list) -> DataFrame:
    """Driver-held (node, unrounded rank) rows as pagerank's result frame."""
    return local_frame(spark, ranks, "node string, rank double not null").select(
        "node", F.round("rank", 6).alias("rank")
    )


def _pagerank_on_driver(nodes: list, edges: list, iters: int, damping: float):
    """The distributed iteration's arithmetic on collected rows: shares are
    weight / out-weight of the src over ALL its edges; a src outside
    ``nodes`` has no rank and sends nothing; rank = base + damping * inflow
    with a missing inflow as 0.0. Returns [(node, unrounded rank)]."""
    import math

    n = len(nodes)
    if n == 0:
        return []
    out_w: dict = {}
    for s, _, w in edges:
        out_w.setdefault(s, []).append(w)
    out_w = {s: math.fsum(ws) for s, ws in out_w.items()}
    shares = [(s, d, w / out_w[s]) for s, d, w in edges]
    rank = {v: 1.0 / n for v in nodes}
    base = (1.0 - damping) / n
    for _ in range(iters):
        inflow: dict = {}
        for s, d, share in shares:
            if s in rank:
                inflow.setdefault(d, []).append(share * rank[s])
        rank = {v: base + damping * math.fsum(inflow.get(v, (0.0,))) for v in nodes}
    return [(v, rank[v]) for v in nodes]


def g05_nation_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Trade-flow PageRank: nation A -> nation B weighted by how many
    (order, supplier) pairs have the customer in A and the supplier in B."""
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    cust = load(spark, sf, "customer")
    supp = load(spark, sf, "supplier")
    os_ = li.select("l_orderkey", "l_suppkey").distinct()
    flows = (
        os_.join(orders, os_.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, os_.l_suppkey == supp.s_suppkey)
        .groupBy(
            _node("n", "c_nationkey").alias("src"),
            _node("n", "s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("double").alias("weight"))
    )
    nodes = load(spark, sf, "nation").select(_node("n", "n_nationkey").alias("node"))
    return pagerank(nodes, flows)


def _pr_iter_sql(i: int) -> str:
    return f"""
r{i + 1} AS (
  SELECT n.node,
         {(1.0 - PR_DAMPING)} / (SELECT COUNT(*) FROM nodes)
         + {PR_DAMPING} * COALESCE(c.inflow, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst, SUM(e.share * r.rank) AS inflow
    FROM enorm e JOIN r{i} r ON r.node = e.src GROUP BY e.dst
  ) c ON c.dst = n.node
)"""


G05_SQL = (
    """
WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
flows AS (
  SELECT 'n:' || c_nationkey AS src, 'n:' || s_nationkey AS dst,
         COUNT(*)::DOUBLE AS weight
  FROM os
  JOIN orders ON os.l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON os.l_suppkey = s_suppkey
  GROUP BY 1, 2
),
nodes AS (SELECT 'n:' || n_nationkey AS node FROM nation),
enorm AS (
  SELECT src, dst, weight / SUM(weight) OVER (PARTITION BY src) AS share
  FROM flows
),
r0 AS (SELECT node, 1.0 / (SELECT COUNT(*) FROM nodes) AS rank FROM nodes),"""
    + ",".join(_pr_iter_sql(i) for i in range(PR_ITERS))
    + f"""
SELECT node, ROUND(rank, 6) AS rank FROM r{PR_ITERS}
"""
)


# --- g07: bounded-BFS min-hop distances ------------------------------------- #
BFS_SEED = "s:1"
BFS_MAX_DEPTH = 3


def bfs_depths(edges: DataFrame, seeds: DataFrame, max_depth: int) -> DataFrame:
    """edges(src, dst) directed, seeds(node) -> (node, depth): minimum hop
    distance from any seed, up to ``max_depth``.

    Frontier-expansion BFS, the Pregel shape expressed relationally: each
    hop is one equi-join of the current frontier against the (persisted,
    reused) edge frame plus one anti-join against the visited set — the
    anti-join is what keeps hop K's work O(newly reached), not O(walks of
    length K), on a cyclic graph. Each hop's (small) frontier is pinned with
    localCheckpoint so the next hop's join and the final union read
    materialized rows instead of re-deriving every prior hop (the same
    lineage-growth reason canon's CC loop checkpoints per round). At web
    scale the frontier join shuffles only node ids; AQE broadcasts the
    frontier while it is small.
    """
    edges = edges.select("src", "dst").persist()
    dist = seeds.select("node", F.lit(0).alias("depth")).localCheckpoint()
    frontier = dist.select("node")
    for d in range(1, max_depth + 1):
        reached = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            reached.join(dist, "node", "left_anti")
            .select("node", F.lit(d).alias("depth"))
            .localCheckpoint()
        )
        dist = dist.union(new).localCheckpoint()
        frontier = new.select("node")
    edges.unpersist()
    return dist


def g07_bfs_depths(spark: SparkSession, sf: str) -> DataFrame:
    """Everything within BFS_MAX_DEPTH undirected hops of the seed supplier,
    with its minimum hop distance — the KG "neighborhood explore" query."""
    t = kg_triples(spark, sf)
    sym = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).union(
        t.select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
    ).distinct()
    seeds = local_frame(spark, [(BFS_SEED,)], "node string")
    return bfs_depths(sym, seeds, BFS_MAX_DEPTH)


G07_SQL = f"""
WITH RECURSIVE {_TRIPLES_CTE},
edges AS (
  SELECT subj AS src, obj AS dst FROM triples
  UNION
  SELECT obj, subj FROM triples
),
walk(node, depth) AS (
  SELECT '{BFS_SEED}', 0
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < {BFS_MAX_DEPTH}
)
SELECT node, MIN(depth) AS depth FROM walk GROUP BY node
"""


# --- g06: N-Triples serialization ------------------------------------------- #
def ntriples_line(subj, pred, obj) -> F.Column:
    return F.concat(
        F.lit("<urn:kgx:"), subj, F.lit("> <urn:kgx:pred:"), pred,
        F.lit("> <urn:kgx:"), obj, F.lit("> ."),
    )


def escape_literal(col) -> F.Column:
    """N-Triples string-literal escaping: backslash first, then quote."""
    return F.expr(f"replace(replace({col}, '\\\\', '\\\\\\\\'), '\"', '\\\\\"')")


def g06_ntriples_export(spark: SparkSession, sf: str) -> DataFrame:
    """Serialize the KG — IRI triples from the shared build plus supplier
    s_name literal triples (exercising literal escaping) — as N-Triples
    lines. Pure codegen string work over the shared triple build; a real
    deployment writes this frame with ``df.write.text`` sharded by subject."""
    t = kg_triples(spark, sf)
    iri = t.select(
        ntriples_line(F.col("subj"), F.col("pred"), F.col("obj")).alias("line")
    )
    supp = load(spark, sf, "supplier")
    lit = supp.select(
        F.concat(
            F.lit("<urn:kgx:"), _node("s", "s_suppkey"),
            F.lit("> <urn:kgx:pred:name> \""), escape_literal("s_name"),
            F.lit("\" ."),
        ).alias("line")
    )
    return iri.unionByName(lit)


G06_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT '<urn:kgx:' || subj || '> <urn:kgx:pred:' || pred || '> <urn:kgx:'
       || obj || '> .' AS line
FROM triples
UNION ALL
SELECT '<urn:kgx:s:' || s_suppkey || '> <urn:kgx:pred:name> "'
       || replace(replace(s_name, '\\', '\\\\'), '"', '\\"') || '" .'
FROM supplier
"""


# --- g08: owl:sameAs entity resolution over an aliased KG ------------------- #
def aliased_triples(spark: SparkSession, sf: str) -> DataFrame:
    """A deliberately UN-resolved KG: the same customer appears under three
    surface forms minted by different source tables — ``c:<custkey>`` (the
    orders feed), ``cn:<name>`` (the customer-dim located_in feed) and
    ``cp:<NAME>`` (the segment feed's upper-cased surface form). This is the
    raw state of any KG built from multiple extractors before entity
    resolution."""
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    placed = orders.select(
        _node("c", "o_custkey").alias("subj"),
        F.lit("placed").alias("pred"),
        _node("o", "o_orderkey").alias("obj"),
    )
    located = cust.select(
        _node("cn", "c_name").alias("subj"),
        F.lit("located_in").alias("pred"),
        _node("n", "c_nationkey").alias("obj"),
    )
    segment = cust.select(
        F.concat(F.lit("cp:"), F.upper("c_name")).alias("subj"),
        F.lit("in_segment").alias("pred"),
        _node("m", "c_mktsegment").alias("obj"),
    )
    return placed.unionByName(located).unionByName(segment)


def sameas_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The owl:sameAs assertions linking the three alias forms as a CHAIN
    (c:<key> — cn:<name> — cp:<NAME>): resolving c: to cp: requires real
    transitive merging, not a one-hop lookup."""
    cust = load(spark, sf, "customer")
    return cust.select(
        _node("c", "c_custkey").alias("a"), _node("cn", "c_name").alias("b")
    ).unionByName(
        cust.select(
            _node("cn", "c_name").alias("a"),
            F.concat(F.lit("cp:"), F.upper("c_name")).alias("b"),
        )
    )


def resolve_sameas(triples: DataFrame, edges: DataFrame) -> DataFrame:
    """Rewrite every subj/obj onto its equivalence class's canonical id
    (min surface over the sameAs component) and collapse duplicates.

    This is the KG-construction step the reference pipeline stops short of:
    connected components over the sameAs graph (sized by the ALIAS
    population, not the triple count), then one node-keyed mapping join per
    side. The mapping covers only surfaces a sameAs edge touches and drops
    identity rows; every other surface is its own canonical through the
    coalesce below, so the mapping is alias-sized, never corpus-sized.

    Two regimes for the mapping, same rows:
    - Driver (the pinned edge list fits the driver budget,
      kgx.canon.driver_edge_rows): union-find on the collected edges
      (kgx.canon.min_components; a component's root is its min surface) and
      the (surface, canon) rows return as a local frame, sized on the
      driver. No distributed CC, no mapping pin, no size probe.
    - Distributed (over budget): large-star CC over the same pinned edges
      (kgx.canon.distributed_components), then a min-surface aggregate and
      join, pinned so CC runs once for both rewrite sides, and sized on the
      pin's own pass (kgx.util.sized_pin).
    Either way the driver budget (kgx.util.fits_driver; a broadcast is held
    on the driver) decides the rewrite joins: within it the mapping
    broadcasts and the corpus side never shuffles for the rewrite (plan =
    the triple build + one distinct exchange); over it both joins are
    sort-merge shuffles where only node ids cross, never triple payloads
    (the hint also keeps a local frame the planner could broadcast on its
    own from being broadcast past the budget)."""
    from kgx.canon import distributed_components, driver_edge_rows, min_components

    edges, rows = driver_edge_rows(edges)
    if rows is not None:
        pairs = [
            (s, root) for s, root in min_components(rows).items() if s != root
        ]
        mapping = local_frame(
            triples.sparkSession, pairs, "surface string, canon string"
        )
        n = len(pairs)
        nbytes = sum(len(s.encode()) + len(c.encode()) for s, c in pairs)
    else:
        comp = distributed_components(edges)
        rep = comp.groupBy("component").agg(F.min("surface").alias("canon"))
        # pin: CC must not re-run per rewrite side
        mapping, n, nbytes = sized_pin(
            comp.join(rep, "component")
            .filter(F.col("surface") != F.col("canon"))
            .select("surface", "canon"),
            F.octet_length("surface") + F.octet_length("canon"),
        )
    if fits_driver(n, nbytes):
        mapping = F.broadcast(mapping)
    else:
        mapping = mapping.hint("merge")
    sub_m = mapping.withColumnRenamed("surface", "subj").withColumnRenamed(
        "canon", "canon_subj"
    )
    obj_m = mapping.withColumnRenamed("surface", "obj").withColumnRenamed(
        "canon", "canon_obj"
    )
    return (
        triples.join(sub_m, "subj", "left")
        .join(obj_m, "obj", "left")
        .select(
            F.coalesce("canon_subj", "subj").alias("subj"),
            "pred",
            F.coalesce("canon_obj", "obj").alias("obj"),
        )
        .distinct()
    )


def g08_sameas_resolution(spark: SparkSession, sf: str) -> DataFrame:
    return resolve_sameas(aliased_triples(spark, sf), sameas_edges(spark, sf))


G08_SQL = """
WITH RECURSIVE triples AS (
  SELECT 'c:' || o_custkey AS subj, 'placed' AS pred, 'o:' || o_orderkey AS obj
  FROM orders
  UNION ALL
  SELECT 'cn:' || c_name, 'located_in', 'n:' || c_nationkey FROM customer
  UNION ALL
  SELECT 'cp:' || upper(c_name), 'in_segment', 'm:' || c_mktsegment FROM customer
),
e AS (
  SELECT 'c:' || c_custkey AS a, 'cn:' || c_name AS b FROM customer
  UNION ALL
  SELECT 'cn:' || c_name, 'cp:' || upper(c_name) FROM customer
),
sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
nodes AS (SELECT subj AS s FROM triples UNION SELECT obj FROM triples),
reach AS (
  SELECT s AS a, s AS b FROM nodes
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
canon AS (SELECT a AS surface, MIN(b) AS canon FROM reach GROUP BY a)
SELECT DISTINCT cs.canon AS subj, t.pred, co.canon AS obj
FROM triples t
JOIN canon cs ON cs.surface = t.subj
JOIN canon co ON co.surface = t.obj
"""


# --- g09: transitive-closure inference (RDFS/SKOS-style materialization) ---- #
def transitive_closure(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """edges(src, dst) -> every (src, dst) with a directed path of >= 1 edge.

    Semi-naive iteration: each round extends only LAST round's new pairs by
    one hop and anti-joins against everything already found, so round K's
    join is O(pairs first reached at K hops), not O(all walks) — the same
    frontier discipline as bfs_depths. The anti-join also makes cycles
    terminate (the pair set is finite; a cycle just adds (x, x) self-pairs
    and stops producing new rows). Each round's delta is pinned with
    localCheckpoint (lineage growth, one pin per round, O(pairs) rows);
    raises past ``max_iter`` — hit only by a hierarchy deeper than
    ``max_iter`` levels, not by cycles — rather than looping silently."""
    edges = edges.select("src", "dst").distinct().persist()
    paths = edges.localCheckpoint()
    delta = paths
    for _ in range(max_iter):
        new = (
            delta.alias("d")
            .join(edges.alias("e"), F.col("d.dst") == F.col("e.src"))
            .select(F.col("d.src").alias("src"), F.col("e.dst").alias("dst"))
            .distinct()
            .join(paths, ["src", "dst"], "left_anti")
            .localCheckpoint()
        )
        if not new.take(1):
            edges.unpersist()
            return paths
        paths = paths.union(new).localCheckpoint()
        delta = new
    edges.unpersist()
    raise RuntimeError(f"transitive_closure: no fixpoint after {max_iter} rounds (cycle?)")


def g09_located_in_closure(spark: SparkSession, sf: str) -> DataFrame:
    """Ontology-closure materialization: customers are located_in a nation;
    nations are partOf a region; regions are partOf 'world'. Materialize
    ``located_in_any`` = located_in ∘ partOf* (zero or more hops), the
    RDFS-subPropertyOf/subClassOf inference every KG store precomputes so
    that 'customers in region r:1' is a scan, not a runtime traversal."""
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    cust = load(spark, sf, "customer")
    part_of = nation.select(
        _node("n", "n_nationkey").alias("src"), _node("r", "n_regionkey").alias("dst")
    ).unionByName(
        region.select(
            _node("r", "r_regionkey").alias("src"), F.lit("world").alias("dst")
        )
    )
    anc = transitive_closure(part_of)
    star = anc.unionByName(
        nation.select(
            _node("n", "n_nationkey").alias("src"),
            _node("n", "n_nationkey").alias("dst"),
        )
    )
    locs = cust.select(
        _node("c", "c_custkey").alias("subj"), _node("n", "c_nationkey").alias("mid")
    )
    return locs.join(star, locs.mid == star.src).select(
        "subj", F.lit("located_in_any").alias("pred"), F.col("dst").alias("obj")
    )


G09_SQL = """
WITH RECURSIVE part_of AS (
  SELECT 'n:' || n_nationkey AS src, 'r:' || n_regionkey AS dst FROM nation
  UNION ALL
  SELECT 'r:' || r_regionkey, 'world' FROM region
),
anc AS (
  SELECT src, dst FROM part_of
  UNION
  SELECT a.src, p.dst FROM anc a JOIN part_of p ON p.src = a.dst
),
star AS (
  SELECT src, dst FROM anc
  UNION ALL
  SELECT 'n:' || n_nationkey, 'n:' || n_nationkey FROM nation
)
SELECT 'c:' || c_custkey AS subj, 'located_in_any' AS pred, s.dst AS obj
FROM customer JOIN star s ON s.src = 'n:' || c_nationkey
"""


# --- g10: entity-document consolidation (the KG serving view) ---------------- #
def g10_entity_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Consolidate each subject's outgoing properties into one deterministic
    document string — the per-entity artifact an entity-serving store or an
    LLM-context builder reads. One node-keyed hash agg over the shared
    triple build (map-side partial collect; property lists are bounded by
    out-degree, and the sort is per-group, never global)."""
    t = kg_triples(spark, sf)
    return t.groupBy("subj").agg(
        F.concat_ws(
            "|", F.sort_array(F.collect_list(F.concat_ws("=", "pred", "obj")))
        ).alias("doc"),
        F.count("*").alias("n_props"),
    )


G10_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT subj,
       string_agg(pred || '=' || obj, '|' ORDER BY pred || '=' || obj) AS doc,
       COUNT(*) AS n_props
FROM triples
GROUP BY subj
"""


# --- incremental degree-view maintenance (streaming x graph composition) ---- #
def degree_delta(triples: DataFrame) -> DataFrame:
    """One batch/epoch of triples -> its (node, out_deg, in_deg) contribution
    (same explode-indicator shape as g03, minus the final total)."""
    ends = triples.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj").alias("node"),
                    F.lit(1).alias("o"), F.lit(0).alias("i"),
                ),
                F.struct(
                    F.col("obj").alias("node"),
                    F.lit(0).alias("o"), F.lit(1).alias("i"),
                ),
            )
        ).alias("e")
    )
    return ends.groupBy(F.col("e.node").alias("node")).agg(
        F.sum("e.o").alias("out_deg"), F.sum("e.i").alias("in_deg")
    )


def merge_degree_view(
    prev: DataFrame | None, delta: DataFrame, pin: bool = True
) -> DataFrame:
    """Fold one epoch's degree contribution into the maintained view.

    Degree is ALGEBRAIC (a sum), so the view is maintainable with one
    node-keyed merge per epoch — O(delta + affected nodes), never a
    re-scan of the store. This is the materialized-view discipline a
    100 TB deployment needs for any KG statistic it serves: recomputing
    g03 over the full store per epoch is O(store) and loses; the merge is
    the same additive shape Structured Streaming's update-mode agg state
    keeps, expressed storably (write the merged frame per epoch, or keep
    it as the foreachBatch state). Pinned equal to the full recompute by
    `test_incremental_degree_matches_batch`.

    ``pin`` (default True) localCheckpoints each FOLDED result, matching the
    module's pagerank/bfs discipline: without it the view's lineage nests one
    union+agg per epoch and evaluating epoch 50 re-executes all 50 deltas —
    exactly the O(store) recompute this view exists to avoid. The base case
    (prev=None) is never pinned so one-shot callers (g03) keep a fully
    inspectable plan; pass pin=False only when the caller persists the merge
    itself (e.g. writes the view to the store each epoch)."""
    d = delta.select("node", "out_deg", "in_deg")
    if prev is None:
        merged = d
    else:
        merged = (
            prev.select("node", "out_deg", "in_deg")
            .unionByName(d)
            .groupBy("node")
            .agg(
                F.sum("out_deg").alias("out_deg"),
                F.sum("in_deg").alias("in_deg"),
            )
        )
        if pin:
            merged = merged.localCheckpoint()
    return merged.withColumn("deg", F.col("out_deg") + F.col("in_deg"))


# --- g11: SPARQL-style basic-graph-pattern matching ------------------------- #
def match_bgp(triples: DataFrame, pattern: list[tuple[str, str, str]]) -> DataFrame:
    """SPARQL BGP matcher: ``pattern`` is a conjunction of (subj, pred, obj)
    triple patterns where ``?name`` terms (``?`` + a Python identifier, as in
    SPARQL's VARNAME) are variables and anything else — including a bare
    ``?`` or a ``?``-prefixed non-identifier like ``?page=1`` — is a literal
    constraint; returns one column per variable and one DISTINCT row per
    satisfying binding.

    Compilation, not interpretation: each triple pattern becomes a filtered
    projection of the triple table and patterns fold left-to-right joined on
    their shared variables — Catalyst sees ordinary equi-joins, so literal
    constraints push to the scan, selective patterns broadcast under AQE,
    and the N-pattern match is the same physical shape as a hand-written
    N-way self-join. A pattern sharing NO variable with what's already bound
    is a cartesian product and raises rather than silently exploding
    (reorder the conjunction instead — SPARQL engines do the same).
    """
    if not pattern:
        raise ValueError("match_bgp: empty pattern")

    def is_var(term: str) -> bool:
        # identifier check: URL-ish literals that happen to start with '?'
        # ('?page=1', bare '?') must constrain, not silently bind a variable
        return term.startswith("?") and term[1:].isidentifier()

    bound: DataFrame | None = None
    bound_vars: set[str] = set()
    var_order: list[str] = []
    for pi, (s, p, o) in enumerate(pattern):
        df = triples
        cols, seen = [], {}
        for term, col in ((s, "subj"), (p, "pred"), (o, "obj")):
            if is_var(term):
                v = term[1:]
                if v in seen:  # repeated var WITHIN one pattern: (?x, p, ?x)
                    df = df.filter(F.col(col) == F.col(seen[v]))
                else:
                    seen[v] = col
                    cols.append(F.col(col).alias(v))
            else:
                df = df.filter(F.col(col) == term)
        if not cols:
            raise ValueError(f"match_bgp: pattern {pi} binds no variable")
        df = df.select(*cols)
        if bound is None:
            bound, bound_vars = df, set(seen)
        else:
            shared = sorted(bound_vars & set(seen))
            if not shared:
                raise ValueError(
                    f"match_bgp: pattern {pi} shares no variable with the "
                    "patterns before it (cartesian product) — reorder the "
                    "conjunction"
                )
            bound = bound.join(df, shared)
            bound_vars |= set(seen)
        var_order += [v for v in seen if v not in var_order]
    # joins put shared keys first — restore first-appearance variable order
    return bound.select(*var_order).distinct()


BGP_PATTERN = [
    ("?c", "located_in", "n:1"),
    ("?c", "placed", "?o"),
    ("?o", "supplied_by", "?s"),
]


def g11_bgp_match(spark: SparkSession, sf: str) -> DataFrame:
    """The KG question 'which suppliers serve customers located in nation
    n:1, and through which orders?' as a 3-pattern BGP — a filter pattern,
    a chain join, and a second chain join sharing the order variable."""
    return match_bgp(kg_triples(spark, sf), BGP_PATTERN)


G11_SQL = f"""
WITH {_TRIPLES_CTE}
SELECT DISTINCT t1.subj AS c, t2.obj AS o, t3.obj AS s
FROM triples t1
JOIN triples t2 ON t2.pred = 'placed' AND t2.subj = t1.subj
JOIN triples t3 ON t3.pred = 'supplied_by' AND t3.subj = t2.obj
WHERE t1.pred = 'located_in' AND t1.obj = 'n:1'
"""


QUERIES = {
    "g01_kg_triples": (g01_kg_triples, G01_SQL),
    "g02_two_hop_neighbors": (g02_two_hop_neighbors, G02_SQL),
    "g03_node_degree": (g03_node_degree, G03_SQL),
    "g04_triangle_count": (g04_triangle_count, G04_SQL),
    "g05_nation_pagerank": (g05_nation_pagerank, G05_SQL),
    "g06_ntriples_export": (g06_ntriples_export, G06_SQL),
    "g07_bfs_depths": (g07_bfs_depths, G07_SQL),
    "g08_sameas_resolution": (g08_sameas_resolution, G08_SQL),
    "g09_located_in_closure": (g09_located_in_closure, G09_SQL),
    "g10_entity_docs": (g10_entity_docs, G10_SQL),
    "g11_bgp_match": (g11_bgp_match, G11_SQL),
}
