"""Graph analytics over the event-transition graph (iterative join-agg
pattern; SURVEY.md §2 Part B extension family).

The graph: one node per ``event_type``; a directed edge (src → dst, w)
for every consecutive same-user event pair, weighted by how often the
transition occurs. Building it is one lag window + one hash aggregate.

PageRank runs in **exact integer fixed-point** (rank scaled by 1e9,
damping as the rational 85/100, all updates integer multiply + integer
division) so three unrolled iterations hash identically across engines —
the same determinism recipe the similarity module uses for cosine.

Scale: this is the generic vertex-centric pattern — edges are the big
side and shuffle ONCE per iteration on ``src`` to meet the rank frame
(small, one row per node); contributions partial-aggregate map-side on
``dst``. At web-graph scale you pre-partition edges by src and reuse
that partitioning across iterations; the program here is unchanged.
The per-type node set is tiny in the testdata, but nothing below
assumes it (no collect of nodes or edges; the only driver-side scalar
is the node count, which any PageRank needs for its teleport term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from iceberg_loader_spark.sources.tables import load_table
from iceberg_loader_spark.tables.materialize import materialize

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_PR_SCALE = 1_000_000_000  # rank fixed-point scale
_PR_ITERS = 3

# shared edge-construction CTEs (DuckDB side)
_DUCK_EDGES = """
    seq AS (
      SELECT user_id, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    edges AS (
      SELECT prev_type AS src, event_type AS dst, COUNT(*) AS w
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    outs AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY src)
"""


def _duck_pr_round(n: int, prev: str) -> str:
    return f"""
    c{n} AS (
      SELECT e.dst AS node,
             CAST(SUM((85 * r.r * e.w) // (100 * o.wout)) AS BIGINT) AS s
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN outs o ON o.src = e.src
      GROUP BY e.dst
    ),
    r{n} AS (
      SELECT n.node,
             CAST((15 * CAST({_PR_SCALE} AS BIGINT)) // (100 * (SELECT COUNT(*) FROM nodes))
                  + COALESCE(c.s, 0) AS BIGINT) AS r
      FROM nodes n LEFT JOIN c{n} c ON c.node = n.node
    )"""


@_register(
    "pagerank_event_transitions",
    f"""
    WITH {_DUCK_EDGES},
    r0 AS (
      SELECT node,
             CAST(CAST({_PR_SCALE} AS BIGINT) // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS r
      FROM nodes
    ),{_duck_pr_round(1, 'r0')},{_duck_pr_round(2, 'r1')},{_duck_pr_round(3, 'r2')}
    SELECT r.node AS event_type, r.r AS pr_fp,
           COALESCE(o.wout, 0) AS wout
    FROM r{_PR_ITERS} r LEFT JOIN outs o ON o.src = r.node
    ORDER BY event_type
    """,
)
def pagerank_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w_lag).alias("prev_type"),
    )
    edges = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    nodes = materialize(
        ev.select(F.col("event_type").alias("node")).distinct()
    )
    outs = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wout"))
    # materialize once: every iteration (and the final degree join) reads
    # the edge frame — without this the lag window + aggregate lineage
    # re-executes per iteration
    edges = materialize(edges.join(outs, "src"))
    outs = edges.select("src", "wout").distinct()

    # the teleport term needs |V| — the one scalar any PageRank collects
    n_nodes = nodes.count()
    base = (15 * _PR_SCALE) // (100 * n_nodes)

    ranks = nodes.withColumn(
        "r", F.lit(_PR_SCALE // n_nodes).cast("bigint")
    )
    for _ in range(_PR_ITERS):
        contrib = edges.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr("(85 * r * w) div (100 * wout)").alias("c"),
        )
        agg = contrib.groupBy("node").agg(F.sum("c").cast("bigint").alias("s"))
        ranks = nodes.join(agg, "node", "left").select(
            "node",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("bigint")
            .alias("r"),
        )
    return (
        ranks.join(outs, ranks["node"] == outs["src"], "left")
        .select(
            F.col("node").alias("event_type"),
            F.col("r").alias("pr_fp"),
            F.coalesce(F.col("wout"), F.lit(0).cast("bigint")).alias("wout"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Degree statistics of the same transition graph — verifies the edge
# construction independently of the rank iteration (in/out degree and
# weighted degree per node). One lag window + two aggregates.
# --------------------------------------------------------------------------
@_register(
    "graph_degree_stats",
    f"""
    WITH {_DUCK_EDGES},
    ins AS (
      SELECT dst, COUNT(*) AS in_deg, CAST(SUM(w) AS BIGINT) AS in_w
      FROM edges GROUP BY dst
    ),
    outd AS (
      SELECT src, COUNT(*) AS out_deg, CAST(SUM(w) AS BIGINT) AS out_w
      FROM edges GROUP BY src
    )
    SELECT n.node AS event_type,
           COALESCE(i.in_deg, 0) AS in_deg,
           COALESCE(i.in_w, 0) AS in_w,
           COALESCE(o.out_deg, 0) AS out_deg,
           COALESCE(o.out_w, 0) AS out_w
    FROM nodes n
    LEFT JOIN ins i ON i.dst = n.node
    LEFT JOIN outd o ON o.src = n.node
    ORDER BY event_type
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_lag = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w_lag).alias("prev_type"),
    )
    edges = materialize(  # read by both the in- and out-degree aggregates
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    ins = edges.groupBy("dst").agg(
        F.count("*").alias("in_deg"), F.sum("w").cast("bigint").alias("in_w")
    )
    outd = edges.groupBy("src").agg(
        F.count("*").alias("out_deg"), F.sum("w").cast("bigint").alias("out_w")
    )
    z = F.lit(0).cast("bigint")
    return (
        nodes.join(ins, nodes["node"] == ins["dst"], "left")
        .join(outd, nodes["node"] == outd["src"], "left")
        .select(
            F.col("node").alias("event_type"),
            F.coalesce(F.col("in_deg"), F.lit(0)).alias("in_deg"),
            F.coalesce(F.col("in_w"), z).alias("in_w"),
            F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"),
            F.coalesce(F.col("out_w"), z).alias("out_w"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Triangle counting over the nation-trade graph: an undirected edge
# (a, b) whenever customers of nation a bought from suppliers of nation
# b (a ≠ b); triangles are closed 3-cliques of trading partners. Uses
# the canonical ORIENTED enumeration: every edge is stored once as
# (lo, hi), and a triangle (a < b < c) is found exactly once by joining
# (a,b) ⋈ (b,c) on the middle vertex and probing for the closing edge
# (a,c) — no double counting, no symmetric blowup.
#
# Scale: the orientation trick is THE standard distributed-triangle
# recipe (degree-ordered in the general case): the wedge join shuffles
# on the middle vertex, and skew is bounded because high-degree vertices
# only ever appear as wedge ENDPOINTS once ordered. Edge building is
# one distinct over an equi-join of two fact aggregates.
# --------------------------------------------------------------------------
@_register(
    "triangle_count_nation_trade",
    """
    WITH pairs AS (
      SELECT DISTINCT
             LEAST(cn.n_nationkey, sn.n_nationkey) AS lo,
             GREATEST(cn.n_nationkey, sn.n_nationkey) AS hi
      FROM lineitem l
      JOIN orders o    ON o.o_orderkey = l.l_orderkey
      JOIN customer c  ON c.c_custkey = o.o_custkey
      JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
      JOIN supplier s  ON s.s_suppkey = l.l_suppkey
      JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
      WHERE cn.n_nationkey <> sn.n_nationkey
    ),
    tri AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.lo = e1.hi
      JOIN pairs e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges
    FROM tri
    """,
)
def triangle_count_nation_trade(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cn = F.col("c_nationkey")
    sn = F.col("s_nationkey")
    pairs = materialize(
        li.join(F.broadcast(orders), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(cn != sn)
        .select(
            F.least(cn, sn).alias("lo"), F.greatest(cn, sn).alias("hi")
        )
        .distinct()
    )
    e1 = pairs.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = pairs.select(F.col("lo").alias("b2"), F.col("hi").alias("c"))
    e3 = pairs.select(F.col("lo").alias("a3"), F.col("hi").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
    )
    n_edges = pairs.count()
    return tri.agg(
        F.count("*").cast("bigint").alias("n_triangles")
    ).withColumn("n_edges", F.lit(n_edges).cast("bigint"))


# --------------------------------------------------------------------------
# Top event-path trigrams — sequence/funnel mining lite: the 20 most
# common 3-step event_type paths across all user journeys (the "what do
# users do next" query behind funnel design).
#
# Physical shape: ONE groupBy(user_id) with an ordered collect (map-side
# partial agg; per-user sequences are bounded by per-user activity), the
# trigram expansion as linear zip_with array work, then a hash aggregate
# on the trigram string and a global top-20 (TakeOrderedAndProject — no
# full sort). Shuffles carry (user_id, type-array) then (trigram, count)
# — never raw events twice.
# --------------------------------------------------------------------------
@_register(
    "event_path_trigrams",
    """
    WITH seqs AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS types
      FROM events GROUP BY user_id
    ),
    tris AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(types) - 1, 1)),
               i -> types[i] || '>' || types[i+1] || '>' || types[i+2]
             )) AS path
      FROM seqs WHERE len(types) >= 3
    )
    SELECT path, COUNT(*) AS n_paths
    FROM tris GROUP BY path
    ORDER BY n_paths DESC, path
    LIMIT 20
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step event_type paths over per-user ordered journeys.
    Oracle rebuilds the same ordered sequences + trigram expansion in
    DuckDB."""
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id", F.struct("ts", "event_id", "event_type").alias("s")
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list("s")).getField("event_type")
            .alias("types")
        )
        .filter(F.size("types") >= 3)
    )
    m = F.greatest(F.size("types") - F.lit(2), F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice("types", 1, m),
            F.slice("types", 2, m),
            lambda a, b: F.concat(a, F.lit(">"), b),
        ),
        F.slice("types", 3, m),
        lambda ab, c: F.concat(ab, F.lit(">"), c),
    )
    return (
        seqs.select(F.explode(tri).alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(20)
    )
