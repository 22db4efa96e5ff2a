"""Iterative graph analytics on DataFrames: weighted PageRank over the
nation-level trade graph (customer nation → supplier nation, weighted by
line-item count).

The reference's dataflow vocabulary is a single map→barrier→reduce pass
(``Program.cs:322-387``); iterative algorithms are that pass *in a
loop* — each PageRank iteration is one join (ranks onto edges) plus one
aggregation (incoming mass per destination), exactly the L5/L7/L9 cycle
repeated. Connected components (``functions/dedup.py``) already covers
data-dependent iteration counts; PageRank here is the fixed-iteration
archetype with float state.

Scale posture: the edge table is partitioned by ``src`` and persisted
once — every iteration reuses the same partitioning, so the per-round
shuffle moves only the (nodes × 8 bytes) rank vector, never the edges.
Rank vectors are tiny relative to edges (nodes ≪ edges); Spark
broadcasts them onto the edge partitions automatically. The dangling-
mass term is a 1-row aggregate cross-joined back, so no per-round
driver-side collect touches the data path. The rank vector is
``localCheckpoint``-ed each round to truncate lineage — the analyzed
plan would otherwise grow geometrically with iterations; only the
(|nodes|)-row vector materializes, never the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from azure_batch_map_reduce_spark.catalog import load_tables, register_views
from azure_batch_map_reduce_spark.registry import query

DAMPING = 0.85
N_ITER = 10

_EDGES_SQL = """
    edges AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        GROUP BY c.c_nationkey, s.s_nationkey
    ),
    nodes AS MATERIALIZED (SELECT n_nationkey AS node FROM nation),
    nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
    outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS DOUBLE) AS ow FROM edges GROUP BY src)
"""


def _pagerank_sql() -> str:
    """10 unrolled iterations (recursive CTEs can't aggregate in the
    recursive term, so fixed unrolling is the portable formulation).
    Every CTE is MATERIALIZED: each r{k+1} references r{k} twice (mass
    propagation + dangling term), so inlining would grow the plan 2^10
    — DuckDB's optimizer times out minutes deep at sf0.001 without the
    hint, with it the whole chain runs in well under a second."""
    ctes = [
        _EDGES_SQL,
        "r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)",
    ]
    for k in range(N_ITER):
        prev, cur = f"r{k}", f"r{k + 1}"
        ctes.append(f"""
    {cur} AS MATERIALIZED (
        SELECT n.node,
               (1 - {DAMPING}) / (SELECT n FROM nn)
               + {DAMPING} * (
                   coalesce(inc.s, 0)
                   + (SELECT coalesce(sum(p.r), 0) FROM {prev} p
                      LEFT JOIN outw o ON o.src = p.node WHERE o.src IS NULL)
                     / (SELECT n FROM nn)
               ) AS r
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.r * e.w / o.ow) AS s
            FROM edges e
            JOIN {prev} p ON p.node = e.src
            JOIN outw o   ON o.src  = e.src
            GROUP BY e.dst
        ) inc ON inc.node = n.node
    )""")
    return f"""
    WITH {",".join(ctes)}
    SELECT nt.n_name AS nation, round(r.r, 6) AS pagerank
    FROM r{N_ITER} r JOIN nation nt ON nt.n_nationkey = r.node
    """


@query(
    "q103_pagerank",
    oracle=_pagerank_sql(),
    tags=("graph", "iterative", "pagerank"),
)
def q103_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 10 iterations) over the
    customer-nation → supplier-nation trade graph: which nations sit at
    the center of the supply network. Demonstrates the iterative
    DataFrame pattern — per round one join of the rank vector onto the
    partition-stable edge table plus one aggregation, with the
    dangling-node mass folded in as a lazy 1-row cross join and the
    rank vector checkpointed per round to keep plan analysis O(1)."""
    t = load_tables(spark, sf_dir)
    edges = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .repartition("src")
        .persist()
    )
    nodes = t["nation"].select(F.col("n_nationkey").alias("node"))
    n_nodes = nodes.count()  # driver scalar once; node set is tiny by definition
    outw = edges.groupBy("src").agg(F.sum("w").cast("double").alias("ow"))

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for _ in range(N_ITER):
        inc = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(outw, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("w") / F.col("ow")).alias("s"))
        )
        dangling = (
            ranks.join(outw, ranks["node"] == outw["src"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
        )
        ranks = (
            nodes.join(inc, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1 - DAMPING) / n_nodes)
                    + DAMPING
                    * (F.coalesce("s", F.lit(0.0)) + F.col("dang") / n_nodes)
                ).alias("r"),
            )
            # Truncate lineage every round: without this the analyzed
            # plan (and Catalyst's analysis time) grows geometrically
            # with iterations — the classic iterative-DataFrame trap.
            # The checkpoint materializes only the rank vector (|nodes|
            # rows), never the edges.
            .localCheckpoint(eager=True)
        )
    return ranks.join(
        t["nation"], ranks["node"] == t["nation"]["n_nationkey"]
    ).select(F.col("n_name").alias("nation"), F.round("r", 6).alias("pagerank"))


_UEDGES_SQL = """
    uedges AS MATERIALIZED (
        SELECT DISTINCT
               least(c.c_nationkey, s.s_nationkey)    AS a,
               greatest(c.c_nationkey, s.s_nationkey) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ),
    tris AS MATERIALIZED (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM uedges e1
        JOIN uedges e2 ON e2.a = e1.b
        JOIN uedges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
"""


@query(
    "q109_triangle_count",
    oracle=f"""
    WITH {_UEDGES_SQL}
    SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ) m
    JOIN nation n ON n.n_nationkey = m.node
    GROUP BY n.n_name
    """,
    tags=("graph", "triangles", "join"),
)
def q109_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the undirected nation trade
    graph — the clustering-structure primitive (triangle counting is
    the canonical "graph analytics on a relational engine" benchmark).
    Edges are canonicalized a<b, triangles enumerated a<b<c by the
    node-iterator double self-join, so each triangle is found exactly
    once; every corner then contributes one count to its nation.

    Scale posture: the expensive part is the DISTINCT edge derivation
    (one shuffle over the fact join); the triangle join runs on the
    deduplicated edge set, which is |V|²-bounded — for real graphs you
    would pre-bucket edges by `a` so both self-joins co-partition, and
    that is exactly what repartition+persist does here. The a<b<c
    orientation is the standard trick that caps join fan-out by
    degeneracy rather than raw degree.
    """
    t = load_tables(spark, sf_dir)
    e = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        .repartition("a")
        .persist()
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tris = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    members = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return (
        members.join(F.broadcast(t["nation"]), members["node"] == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


MAX_HOPS = 3

_REACH_SQL = f"""
    WITH RECURSIVE dedges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ),
    walk AS (
        SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS INTEGER) AS hop
        UNION ALL
        SELECT CAST(e.dst AS BIGINT) AS node, CAST(w.hop + 1 AS INTEGER) AS hop
        FROM walk w JOIN dedges e ON e.src = w.node
        WHERE w.hop < {MAX_HOPS}
    )
    SELECT n.n_name AS nation, CAST(min(w.hop) AS INTEGER) AS hops
    FROM walk w JOIN nation n ON n.n_nationkey = w.node
    GROUP BY n.n_name
"""


@query(
    "q114_recursive_reachability",
    oracle=_REACH_SQL,
    tags=("graph", "recursive", "cte", "bfs"),
)
def q114_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability via WITH RECURSIVE (Spark 4 recursive
    CTE): minimum trade-hop distance from nation 0 to every reachable
    nation over the directed customer-nation → supplier-nation edge
    set, capped at 3 hops. The same recursive SQL text runs on
    both engines — the one operator class the DataFrame API cannot
    express without a driver loop (q103's pattern); here the engine's
    own iteration does it.

    Scale posture: each recursive step is one equi-join of the frontier
    against the (deduplicated, |V|²-bounded) edge table plus the hop
    bound that terminates the walk — identical shuffle shape to one
    PageRank round. UNION ALL keeps steps append-only (no per-step
    distinct); the final min(hop) collapses path multiplicity in a
    single aggregation. The hop cap bounds blow-up on cyclic graphs,
    the standard guard for recursive SQL on dense data.
    """
    register_views(spark, sf_dir)
    return spark.sql(_REACH_SQL)


_SP_MAX_HOPS = 4

# Shared engine/oracle SQL (Spark 4.1 WITH RECURSIVE, like q114): edge
# weights are deterministic small integers, costs stay exact BIGINTs.
_SHORTEST_SQL = f"""
WITH RECURSIVE wedges AS (
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst,
           1 + (c.c_nationkey + s.s_nationkey) % 3 AS w
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
),
paths AS (
    SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost,
           CAST(0 AS INTEGER) AS hop
    UNION ALL
    SELECT CAST(e.dst AS BIGINT), p.cost + e.w,
           CAST(p.hop + 1 AS INTEGER)
    FROM paths p JOIN wedges e ON e.src = p.node
    WHERE p.hop < {_SP_MAX_HOPS}
),
best AS (
    SELECT node, min(cost) AS min_cost FROM paths GROUP BY node
)
SELECT n.n_name AS nation,
       CAST(b.min_cost AS BIGINT) AS min_cost,
       CAST(min(p.hop) AS INTEGER) AS hops
FROM best b
JOIN paths p ON p.node = b.node AND p.cost = b.min_cost
JOIN nation n ON n.n_nationkey = b.node
GROUP BY n.n_name, b.min_cost
ORDER BY nation
"""


@query(
    "q177_shortest_paths",
    oracle=_SHORTEST_SQL,
    tags=("graph", "shortest-path", "recursive", "weighted"),
)
def q177_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the nation trade
    graph via WITH RECURSIVE (identical SQL text on both engines —
    Spark 4.1 parses recursive CTEs natively): walks of ≤4 hops fan out
    from nation 0 carrying exact integer path costs (edge weight
    1 + (src+dst) mod 3, so the cheapest path is NOT the fewest-hop
    path — this is Bellman-Ford by unrolling, not BFS like q114), and
    the closing aggregation keeps the cheapest cost per nation plus
    the fewest hops achieving it.

    Scale posture: the recursion runs at NATION grain — the distinct
    edge list collapses the lineitem-volume join first, so each
    iteration joins a ≤25-node frontier against ≤600 edges no matter
    the fact-table size. Depth-bounding the walk caps the blow-up of
    the UNION ALL frontier; at larger diameters you'd switch to the
    iterate-until-fixpoint DataFrame loop with a convergence check.
    """
    register_views(spark, sf_dir)
    return spark.sql(_SHORTEST_SQL)


@query(
    "q218_degree_distribution",
    oracle="""
    WITH cooc AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM (SELECT DISTINCT user_id, event_type,
                     date_trunc('hour', ts) AS h FROM events) a
        JOIN (SELECT DISTINCT user_id, event_type,
                     date_trunc('hour', ts) AS h FROM events) b
          ON a.event_type = b.event_type AND a.h = b.h
         AND a.user_id < b.user_id
    ),
    degrees AS (
        SELECT u AS user_id, count(*) AS deg FROM (
            SELECT u FROM cooc UNION ALL SELECT v FROM cooc
        ) t(u)
        GROUP BY u
    )
    SELECT CAST(floor(ln(deg) / ln(2)) AS INTEGER) AS deg_bucket_log2,
           CAST(count(*) AS BIGINT)                AS n_users,
           CAST(min(deg) AS BIGINT)                AS min_deg,
           CAST(max(deg) AS BIGINT)                AS max_deg
    FROM degrees
    GROUP BY 1
    ORDER BY deg_bucket_log2
    """,
    tags=("graph", "degree", "profiling", "cooccurrence"),
)
def q218_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the user co-activity graph (edges between
    users active in the same event-type × hour cell), bucketed log2 —
    the FIRST profile run before any graph algorithm: a heavy-tailed
    degree histogram predicts exactly which keys will skew the
    PageRank (q103) / triangle (q109) / component (q66) shuffles, and
    log2 buckets are how that tail is read.

    Determinism: degrees are exact integers; the log2 bucket is
    floor(ln d/ln 2), flip-safe because d is an integer and powers of
    two land exactly (ln(2^k)/ln(2) = k within one ulp, floored the
    same way on both engines for k ≤ 40 — the hazard would start at
    degrees ~2^50).

    Scale posture: the cell self-join has bounded fan-in per
    (type, hour) cell like q211's grid; degrees are one explode +
    count; the histogram is a bounded-key rollup. A dense cell (every
    user active the same hour) is the quadratic hazard — cap or
    sample cells beyond a width threshold, as the docstring of q212
    prescribes for hot items."""
    ev = load_tables(spark, sf_dir)["events"]
    cells = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).distinct()
    a, b = cells.alias("a"), cells.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    degrees = (
        cooc.select(F.col("u").alias("user_id"))
        .unionAll(cooc.select(F.col("v").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        degrees.groupBy(
            F.floor(F.log(F.col("deg").cast("double")) / F.log(F.lit(2.0)))
            .cast("int")
            .alias("deg_bucket_log2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("deg").cast("long").alias("min_deg"),
            F.max("deg").cast("long").alias("max_deg"),
        )
        .orderBy("deg_bucket_log2")
    )


_AA_DEG_CAP = 50   # parts bought by more customers than this are hubs
_AA_TOPN = 20


@query(
    "q296_adamic_adar_links",
    oracle=f"""
    WITH bought AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (
        SELECT part, count(*) AS d FROM bought GROUP BY part
        HAVING count(*) BETWEEN 2 AND {_AA_DEG_CAP}
    ),
    pairs AS (
        SELECT a.cust AS cust_a, b.cust AS cust_b, d.part, d.d
        FROM bought a
        JOIN bought b ON a.part = b.part AND a.cust < b.cust
        JOIN deg d ON a.part = d.part
    )
    SELECT cust_a, cust_b,
           CAST(count(*) AS BIGINT) AS n_common,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(1.0 / ln(CAST(d AS DOUBLE)) ORDER BY part)),
                 (x, y) -> x + y), 6) AS adamic_adar
    FROM pairs
    GROUP BY cust_a, cust_b
    ORDER BY adamic_adar DESC, cust_a ASC, cust_b ASC
    LIMIT {_AA_TOPN}
    """,
    tags=("graph", "link-prediction", "adamic-adar", "recsys"),
)
def q296_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the customer-part bipartite
    graph (who-bought-what): two customers' affinity is Σ 1/ln(deg(z))
    over the parts z both bought — rare shared parts score high, and
    parts bought by more than 50 customers are dropped as hubs (their
    1/ln term is noise and their pair fan-out is the quadratic
    blow-up). The standard neighborhood-overlap recommender baseline,
    complementing q212's item-item cosine with a user-user signal.
    Emits the top-20 predicted links.

    Determinism: degrees are exact counts; ln takes identical integer
    operands on both engines; per-pair sums fold in part-key order;
    ties break (cust_a, cust_b).

    Scale posture: the bipartite edge list dedups once (distinct
    (cust, part) shuffle); candidate pairs form ONLY through the
    part-key equi-join, with the degree cap bounding per-part fan-out
    at C(50,2) — never all-pairs; top-k is a TakeOrdered. This is the
    q62/q260 blocking discipline applied to graphs: the join key (the
    shared neighbor) IS the block. Reference contract: per-order edge
    extraction = map slot (``App.config:16``); pair-score
    consolidation = reduce slot (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    bought = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    deg = (
        bought.groupBy("part")
        .agg(F.count(F.lit(1)).alias("d"))
        .where((F.col("d") >= 2) & (F.col("d") <= _AA_DEG_CAP))
    )
    a = bought.select(F.col("cust").alias("cust_a"), "part")
    b = bought.select(F.col("cust").alias("cust_b"), F.col("part").alias("part_b"))
    pairs = (
        a.join(b, (F.col("part") == F.col("part_b")) & (F.col("cust_a") < F.col("cust_b")))
        .join(deg, "part")
    )
    return (
        pairs.groupBy("cust_a", "cust_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("part"),
                                    (1.0 / F.log(F.col("d").cast("double"))).alias(
                                        "term"
                                    ),
                                )
                            )
                        ),
                        lambda s: s.getField("term"),
                    ),
                    F.lit(0.0),
                    lambda x, y: x + y,
                ),
                6,
            ).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), F.asc("cust_a"), F.asc("cust_b"))
        .limit(_AA_TOPN)
    )


@query(
    "q401_degree_assortativity",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    dc AS (SELECT c, count(*) AS d FROM edges GROUP BY c),
    dp AS (SELECT p, count(*) AS d FROM edges GROUP BY p),
    xy AS (
        SELECT dc.d AS x, dp.d AS y
        FROM edges e JOIN dc ON dc.c = e.c JOIN dp ON dp.p = e.p
    ),
    m AS (
        SELECT count(*) AS n,
               sum(CAST(x AS HUGEINT)) AS sx,
               sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0
               AS assortativity
    FROM m
    """,
    tags=("graph", "assortativity", "degree", "statistics"),
)
def q401_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the bipartite customer-part purchase
    graph: the Pearson correlation, over edges, between the customer
    endpoint's degree and the part endpoint's degree (Newman's
    assortativity coefficient specialized to a bipartite graph).
    Negative values mean heavy buyers concentrate on niche parts —
    the structural statistic that decides whether q212's
    item-CF similarity needs degree normalization, completing the
    graph-stats family (q218 degree distribution, q109 clustering,
    q384 modularity).

    Determinism: degrees are exact distinct-edge counts; every moment
    (Σx, Σxy, Σx², ...) accumulates as EXACT integers — Spark
    decimal(38,0) ≡ DuckDB HUGEINT, order-independent — and floats
    appear only in the single closing convert/sqrt/divide, rounded at
    6 with signed-zero normalization (the q397 rule).

    Scale posture: one DISTINCT on the fact join (the edge list), ONE
    part-side degree rollup, one edge⋈dp join, then a customer-grain
    rollup — the customer-side moments come FREE from that groupBy
    via exact algebra (per edge x = deg(c), so Σx = Σ_c dx², Σx² =
    Σ_c dx³, Σxy = Σ_c dx·Σ_{p∈N(c)} dy; n = Σ_c dx), eliminating
    the dc rollup and the second edge-grain join back the first cut
    paid (6 parquet scans → 4, ~10% at sf0.1; identical exact-integer
    moments, so the closing float is bit-identical). At production
    scale dp broadcasts when parts are a bounded catalog and the edge
    list is bucketed by p. Reference contract: per-edge degree
    emission = map slot (``App.config:16``); moment rollup = reduce
    slot (``App.config:17``)."""
    t = load_tables(spark, sf_dir)
    edges = (
        t["lineitem"]
        .join(
            t["orders"],
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    dp = edges.groupBy("p").agg(F.count(F.lit(1)).alias("dy"))
    per_c = (
        edges.join(dp, "p")
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("dx"),
            F.sum(dec("dy")).alias("sdy"),
            F.sum(dec("dy") * dec("dy")).alias("sdy2"),
        )
    )
    m = per_c.agg(
        F.sum(dec("dx")).alias("n0"),
        F.sum(dec("dx") * dec("dx")).alias("sx"),
        F.sum(dec("dx") * dec("dx") * dec("dx")).alias("sxx"),
        F.sum("sdy").alias("sy"),
        F.sum("sdy2").alias("syy"),
        F.sum(dec("dx") * F.col("sdy")).alias("sxy"),
    )
    from azure_batch_map_reduce_spark.operators.ranks import round_nz

    n = F.col("n0")
    return m.select(
        F.col("n0").cast("long").alias("n_edges"),
        round_nz(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (n * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("assortativity"),
    )


# --- q430: k-core decomposition by iterative peeling -------------------

_KCORE_K = 2  # peel threshold: both endpoints must keep degree >= K
_KCORE_MAX_ROUNDS = 12  # Spark-side safety bound (loop exits at fixpoint)
# Oracle unroll depth = the engine's round bound:
# rounds past the fixpoint are idempotent no-ops, so unrolling to the
# full engine bound keeps the oracle exact for ANY dataset the engine
# accepts — previously 8 < 12 left a latent window where a 9-12-round
# fixpoint would fail the differential with the engine right and the
# oracle stale (fixtures peel in <= 3 rounds, so latent only).
_KCORE_UNROLL = _KCORE_MAX_ROUNDS


def _kcore_oracle_sql() -> str:
    """Unrolled synchronous peeling in SQL: round r recomputes both
    sides' degrees over e{r-1} and keeps only edges whose endpoints
    both still clear ``_KCORE_K``. Rounds past the fixpoint are no-ops
    (the filter is idempotent), so a fixed unroll ≥ the worst observed
    round count (3 at sf0.001) is exact. Every CTE is MATERIALIZED —
    e{r} references e{r-1} three times (edge list + two degree
    aggregates), so inlining would grow the plan 3^rounds (the
    pagerank rule)."""
    rounds = []
    for r in range(1, _KCORE_UNROLL + 1):
        p = r - 1
        rounds.append(f"""
    e{r} AS MATERIALIZED (
        SELECT e.u, e.k
        FROM e{p} e
        JOIN (SELECT u, count(*) AS du FROM e{p} GROUP BY u) a ON a.u = e.u
        JOIN (SELECT k, count(*) AS dk FROM e{p} GROUP BY k) b ON b.k = e.k
        WHERE a.du >= {_KCORE_K} AND b.dk >= {_KCORE_K}
    )""")
    last = f"e{_KCORE_UNROLL}"
    return f"""
    WITH pc AS MATERIALIZED (
        SELECT user_id AS u,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    rk AS MATERIALIZED (
        SELECT u, k,
               row_number() OVER (ORDER BY c DESC, u, k) AS rn,
               count(*) OVER () AS n
        FROM pc
    ),
    e0 AS MATERIALIZED (SELECT u, k FROM rk WHERE rn <= n // 10),
    {",".join(rounds)}
    SELECT side, node_id, core_degree FROM (
        SELECT 'user' AS side, u AS node_id,
               CAST(count(*) AS BIGINT) AS core_degree
        FROM {last} GROUP BY u
        UNION ALL
        SELECT 'item', k, CAST(count(*) AS BIGINT) FROM {last} GROUP BY k
    ) ORDER BY side, node_id
    """


@query(
    "q430_kcore_decomposition",
    oracle=_kcore_oracle_sql(),
    tags=("graph", "kcore", "peeling", "dense-subgraph"),
)
def q430_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite k-core extraction by iterative peeling — the
    dense-subgraph primitive (fraud rings, engaged-cohort mining,
    graph sparsification before expensive analytics) the graph family
    lacked: PageRank (q103) scores nodes, components (q66) partition
    them, triangles (q109) count local closure; the k-core is the
    maximal subgraph where EVERY remaining node keeps degree ≥ k, and
    computing it is a data-dependent FIXPOINT of delete-and-recount —
    a different iteration shape from all three (monotone edge
    shrinkage, not value propagation).

    Graph: user–property bipartite edges from the events stream,
    sparsified to the top decile of (user, props.k) pair counts by the
    exact global rank (count desc, user, k — a RANK cut, not a fixed
    threshold, so the graph stays non-degenerate at every SF; the
    q388 lesson). Peeling at k=2 removes 28%/2%/3% of edges over
    3/1/1 rounds at sf0.001/0.01/0.1 (probed) — every released
    ``core_degree`` is ≥ 2 only AT the fixpoint, so the convergence
    test pins min(core_degree) ≥ k.

    Determinism: pure integer counts and exact ranks end to end.

    Scale posture: each round is two partial+final degree aggregates
    plus one equi-join filter over a monotonically SHRINKING edge
    list; the Spark loop exits at the observed fixpoint (edge count
    stabilizes — one bounded count() action per round, the
    connected-components discipline) with ``localCheckpoint`` per
    round truncating lineage. At 100 TB the peel is the same dataflow
    with the rank cut replaced by a distributed rank
    (``ranks.distributed_row_number`` — already used here); rounds
    are bounded by the degeneracy ordering depth, and each round's
    shuffle carries only (node, degree) pairs. Reference contract:
    per-round degree count = map slot (``App.config:16``); the
    peel filter join = reduce slot (``App.config:17``,
    ``Program.cs:351-384``)."""
    from azure_batch_map_reduce_spark.operators.ranks import (
        distributed_row_number,
    )

    events = load_tables(spark, sf_dir)["events"]
    pc = (
        events.select(
            F.col("user_id").alias("u"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("u", "k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = distributed_row_number(
        pc, [F.col("c").desc(), F.col("u"), F.col("k")]
    )
    n_pairs = ranked.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        ranked.crossJoin(F.broadcast(n_pairs))
        .where(F.col("rn") * 10 <= F.col("n"))  # exact integer rn <= n//10 cut
        .select("u", "k")
        .localCheckpoint(eager=True)
    )
    prev = edges.count()
    for _ in range(_KCORE_MAX_ROUNDS):
        du = edges.groupBy("u").agg(F.count(F.lit(1)).alias("du"))
        dk = edges.groupBy("k").agg(F.count(F.lit(1)).alias("dk"))
        edges = (
            edges.join(du, "u")
            .join(dk, "k")
            .where(
                (F.col("du") >= _KCORE_K) & (F.col("dk") >= _KCORE_K)
            )
            .select("u", "k")
            .localCheckpoint(eager=True)
        )
        cur = edges.count()
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"k-core peel did not converge in {_KCORE_MAX_ROUNDS} rounds"
        )
    users = edges.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree"))
    items = edges.groupBy("k").agg(F.count(F.lit(1)).alias("core_degree"))
    out = users.select(
        F.lit("user").alias("side"),
        F.col("u").alias("node_id"),
        F.col("core_degree").cast("long").alias("core_degree"),
    ).unionByName(
        items.select(
            F.lit("item").alias("side"),
            F.col("k").alias("node_id"),
            F.col("core_degree").cast("long").alias("core_degree"),
        )
    )
    return out.orderBy("side", "node_id")
