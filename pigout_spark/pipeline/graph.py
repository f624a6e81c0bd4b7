"""Graph analytics on edge relations: PageRank (fixed-iteration).

Connected components (min-label propagation + pointer jumping) live in
pipeline/dedup.py:dedup_clusters — this module holds the rank side.

Determinism contract (oracle-hash discipline): ranks are FIXED-POINT
int64 "picorank" units (10^-12).  Every step is integer arithmetic —
floor division by out-degree, damping as the rational 85/100, the
teleport term 0.15·10^12 DIV N — so any engine reproduces the result
bit-for-bit with no FP-reduction-order or decimal-conversion concerns
(the first draft's DECIMAL(38,18)↔DOUBLE round-trips differed from
DuckDB by 1 ULP — fuzz-caught).  Cost: each floor division drops up to
one unit (10^-12) of rank mass; bounded and documented, invisible at
any practical tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: 1 rank = 10^12 units (int64-safe: total mass
#: ≤ 10^13 units; the damping multiply peaks at 85·10^12 « 2^63)
PAGERANK_UNIT = 10**12

# Rounds between lineage cuts (lazy localCheckpoints) in each loop.  A
# loop that runs an action every round (a convergence probe, or hits'
# broadcast L1 total) re-executes all lineage since the last cut inside
# that action, so it cuts every round.  A loop with no per-round action
# compiles a short run into one Catalyst plan, where identical subtrees
# reuse their exchanges, so it cuts every 4th round.  The cost is
# driver-side plan depth, not data volume, so the choice holds at any
# scale.  Interleaved A/B walls at sf0.1, cadence 1 vs 4: k_core 1.79 vs
# 2.72 s; label_propagation 2.44 vs 2.85 s (no probe, but its plan depth
# still wins); hits best 10.4 vs 13.3 s over 4 pairs of a 2-round run;
# bfs 2.66 vs 2.03 s; sssp 3.76 vs 3.23 s.  PageRank with a cut every
# round cost ~3x the wall of a 3-round run.  dedup_clusters' probe is an
# action, so it cuts every round.
_EVERY_PAGERANK = _EVERY_BFS = _EVERY_SSSP = 4
_EVERY_KCORE = _EVERY_LPA = _EVERY_HITS = _EVERY_CC = 1


def _edges(
    edges: DataFrame,
    s: Column,
    d: Column,
    weight_col: str | None = None,
    weight_rule: str | None = None,
    symmetric: bool = False,
    simple: bool = False,
) -> DataFrame:
    """The edge relation ``(__s, __d)`` of columns ``s`` → ``d`` of
    ``edges``; edges with a NULL endpoint are dropped.

    - ``simple``: the undirected simple graph — one ``__s < __d`` row
      per unordered pair, self-loops dropped.
    - ``weight_rule`` (the caller's error message) adds ``__w``: the
      ``weight_col`` as bigint, asserted into [1, 1e5] on the same scan
      (positive, with int64 headroom), or 1 when ``weight_col`` is None.
      A zero or negative weight would silently corrupt ranks and path
      sums; assert_true returns NULL on success, so the filter keeps
      every valid row and costs no extra pass.
    - ``symmetric``: both directions of every edge, emitted in-task by
      an explode of a 2-array.  A union of two projections would plan
      the whole upstream twice.
    """
    e = edges.filter(s.isNotNull() & d.isNotNull())
    if simple:
        e = e.filter(s != d).select(
            F.least(s, d).alias("__s"), F.greatest(s, d).alias("__d")
        ).distinct()
        s, d = F.col("__s"), F.col("__d")
    w = []
    if weight_rule is not None:
        w = [F.lit(1).cast("bigint").alias("__w")]
        if weight_col is not None:
            wc = F.col(weight_col).cast("bigint")
            e = e.filter(
                F.assert_true(wc.between(1, 100_000), F.lit(weight_rule)).isNull()
            )
            w = [wc.alias("__w")]
    fwd = [s.alias("__s"), d.alias("__d"), *w]
    if not symmetric:
        return e.select(*fwd)
    back = F.struct(d.alias("__s"), s.alias("__d"), *w)
    return e.select(F.explode(F.array(F.struct(*fwd), back)).alias("__e")).select(
        "__e.*"
    )


def _degree(und: DataFrame) -> DataFrame:
    """``(n, deg)`` for every node of a simple :func:`_edges` relation."""
    return (
        und.select(F.explode(F.array("__s", "__d")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _iterate(step, state, rounds, every, done=None, fail="", storage=None):
    """The round loop of every iterative operator: ``state =
    step(state, i, cut)`` for ``i`` = 1..``rounds``.

    ``cut(df)`` cuts a round-state frame's lineage on every ``every``-th
    round and returns ``df`` unchanged otherwise.  The cut is a lazy
    localCheckpoint at ``storage`` (the default level when None): the
    round's next action writes it instead of an eager job of its own.  With ``done``, the loop runs to a fixpoint:
    the probe ``done(state)`` runs after each step, the first state it
    accepts is returned, and ``RuntimeError(fail)`` is raised when none
    is within ``rounds`` rounds.  Without it, exactly ``rounds`` rounds
    run.
    """
    for i in range(1, int(rounds) + 1):

        def cut(df: DataFrame, now: bool = i % every == 0) -> DataFrame:
            if not now:
                return df
            return df.localCheckpoint(eager=False, storageLevel=storage)

        state = step(state, i, cut)
        if done is not None and done(state):
            return state
    if done is not None:
        raise RuntimeError(fail)
    return state


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    weight_col: str | None = None,
    seeds: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge relation (duplicate edges
    count as parallel edges).  Classic simplified update — each node
    starts at 1/N and per round

        rank(v) = (1-d)/N + d · Σ_{u→v} rank(u)/out_degree(u)

    with d = ``damping_pct``/100 (dangling mass NOT redistributed —
    the standard simplification, documented rather than hidden).  A
    fixed iteration count keeps it SQL-expressible: the oracle replays
    the same rounds as unrolled CTEs in the same int64 fixed-point
    arithmetic.  Output ranks are units/10^12 as double (exact — the
    numerator is far below 2^53).

    ``weight_col`` (r7): edge weights as POSITIVE INTEGERS (co-order
    counts, click counts — the natural multigraph compression);
    contributions become rank·w div Σw per source, still pure integer
    floor arithmetic.  ``seeds`` (r7): personalized PageRank — the
    teleport term concentrates on the seed list ((1−d)/|S| and the
    initial 1/|S| go to seeds only, 0 elsewhere), the standard
    random-walk-with-restart relevance measure.  The seed list is
    driver-sized by contract (a query's seed set, compiled into the
    plan as a literal IN — not a join side).


    100 TB: the degree-annotated edge list is shuffled once onto the
    source key and checkpointed.  The checkpoint does not keep that
    hash partitioning, so every round after the first re-exchanges the
    checkpointed edge list onto the source key for the join with the
    rank sums, then exchanges the contributions onto their destination
    (map-side combined) — two exchanges per round.  The
    rank sums are node-sized and checkpointed on the cadence at the
    top of this module.  The driver holds only N (a scalar).
    """
    # Materialize the (typically derived — a distinct, a projection of
    # a fact table) DEGREE-ANNOTATED edge relation once: a single
    # checkpoint serves the iteration, the node derivation, and the
    # degree lookup (r7: the previous shape checkpointed the raw edges
    # AND the annotated edges — two materializations of the same 600k
    # rows; one suffices since every consumer tolerates the __deg
    # column).  Degree via a map-side-combined groupBy folded back with
    # a CO-PARTITIONED shuffle-hash join (r10): the r9 window shape
    # sorted the full edge stream by __s inside WindowExec (a window
    # with only partitionBy still sorts) — the SHJ build side is the
    # per-partition degree slice (|distinct src|/P rows — bounded at
    # any scale, NOT a broadcast of a node-sized relation), measured
    # −15% on the e-build at sf1, bit-identical output.
    # NULL endpoints fail loudly (ADVICE r10): the degree fold is an
    # inner join on __s, so a NULL source would silently drop the edge
    # (and its destination from the node set).  The check is BAKED INTO
    # the key expression (coalesce short-circuits for valid rows,
    # raise_error fires for NULLs) rather than a separate assert_true
    # filter: Catalyst infers isnotnull(__s) from the inner join and
    # would evaluate that inferred filter first, silently removing the
    # very rows the assert was meant to catch.
    def _nn(col_name: str) -> Column:
        return F.coalesce(
            F.col(col_name),
            F.raise_error(
                F.lit(
                    f"pagerank: {col_name} must be non-null (NULL-key "
                    "edges would vanish in the degree join)"
                )
            ).cast(edges.schema[col_name].dataType),
        )

    ep = _edges(
        edges,
        _nn(src),
        _nn(dst),
        weight_col,
        f"pagerank: {weight_col} must be an integer in [1, 1e5] "
        "(positive, with int64 overflow headroom)",
    ).repartition("__s")
    degs = ep.groupBy("__s").agg(F.sum("__w").alias("__deg"))
    e = ep.join(degs.hint("shuffle_hash"), "__s").localCheckpoint(eager=False)
    # node relation: consumed by the N aggregation and the final
    # base+sums join; it recomputes from the CHECKPOINTED e both times,
    # which measures cheaper than a second materialization barrier
    # (same finding as the r7 e-checkpoint experiment).
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    d = int(damping_pct)
    # Teleport denominator: the whole graph, or the seed set (PPR).
    if seeds is not None and len(seeds) == 0:
        raise ValueError("personalized pagerank needs a non-empty seed list")
    # Per-node teleport units.  PPR divides by the seed-list length — a
    # Python literal.  Uniform PageRank divides by N, which used to be
    # an EAGER nodes.count() — a whole extra job (~half the wall time
    # of a 3-round run at sf0.1) spent materializing the checkpoint
    # before the real work.  Instead N rides along as a broadcast 1-row
    # relation and the unit constants become int64 div expressions over
    # it — same floor arithmetic, same oracle replay, one action total.
    if seeds is not None:
        n_tel = len(seeds)
        base_units_sql = str((( (100 - d) * PAGERANK_UNIT) // 100) // n_tel)
        r0_sql = str(PAGERANK_UNIT // n_tel)

        def attach(df: DataFrame) -> DataFrame:
            return df
    else:
        tot = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("__ntel"))
        base_units_sql = (
            f"(cast({((100 - d) * PAGERANK_UNIT) // 100} as bigint)"
            " div __ntel)"
        )
        r0_sql = f"(cast({PAGERANK_UNIT} as bigint) div __ntel)"

        def attach(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(tot))

    def node_base(col: str, units_sql: str):
        """Per-node teleport units as a Column: the div-by-N expression
        for the uniform case, seed-gated literal for PPR (literal IN —
        seed lists are query-sized by contract)."""
        if seeds is None:
            return F.expr(units_sql)
        return (
            F.when(F.col(col).isin(*seeds), F.expr(units_sql))
            .otherwise(F.lit(0))
            .cast("bigint")
        )

    if int(iterations) <= 0:
        return attach(nodes).select(
            "node",
            (
                node_base("node", r0_sql).cast("double")
                / F.lit(float(PAGERANK_UNIT))
            ).alias("rank"),
        )
    # rank_i(u) = base(u) + (d·sums_i(u)) div 100 is folded INTO the
    # next round's contribution expression, so a round is ONE left join
    # of the edge list with the (dst-keyed) sums relation plus the
    # transpose aggregation.  The full node
    # relation is only joined once, at the end; nodes that never
    # receive contributions sit at their base implicitly throughout.
    # Weighted: contribution = rank·w div Σw.  Overflow headroom:
    # rank ≤ ~10^13 units and w ≤ 10^5 keeps rank·w below 2^63.
    e = attach(e)
    e = e.withColumn("__sb", node_base("__s", base_units_sql)).withColumn(
        "__r0s", node_base("__s", r0_sql)
    )
    rank_expr = (
        f"(__sb + ({d} * coalesce(__sum, cast(0 as bigint))) div 100)"
    )

    def spread(sums, i, cut):
        if sums is None:
            contrib = e.select(
                F.col("__d").alias("node"),
                F.expr("(__r0s * __w) div __deg").alias("__c"),
            )
        else:
            # SHUFFLE_HASH on the node-sized sums side: a sort-merge
            # join re-sorted the degree-annotated edge list every round.
            # The build side is the per-partition slice of the rank
            # vector — bounded by nodes/partitions at any scale, never a
            # broadcast.  LeftOuter + BuildRight is the supported shape.
            contrib = e.join(
                sums.hint("shuffle_hash"), e["__s"] == sums["__n"], "left"
            ).select(
                F.col("__d").alias("node"),
                F.expr(f"({rank_expr} * __w) div __deg").alias("__c"),
            )
        return cut(
            contrib.groupBy("node")
            .agg(F.sum("__c").alias("__sum"))
            .select(F.col("node").alias("__n"), "__sum")
        )

    sums = _iterate(spread, None, iterations, _EVERY_PAGERANK)
    final_rank = node_base("node", base_units_sql) + F.expr(
        f"({d} * coalesce(__sum, cast(0 as bigint))) div 100"
    )
    return (
        attach(nodes)
        # same §3.1 call as the in-loop join: both sides node-sized,
        # hash build beats sorting both
        .join(sums.hint("shuffle_hash"), F.col("node") == sums["__n"], "left")
        .select(
            "node",
            (final_rank.cast("double") / F.lit(float(PAGERANK_UNIT))).alias(
                "rank"
            ),
        )
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    per_node: bool = False,
    max_wedges: float | None = 2e9,
) -> DataFrame:
    """Exact triangle count of the UNDIRECTED SIMPLE graph underlying
    an edge relation (direction, duplicates, and self-loops are
    normalized away first).

    Degree-ordered orientation (the classic MapReduce formulation,
    Suri & Vassilvitskii 2011 "Counting triangles and the curse of the
    last reducer"): orient every edge toward the higher-(degree, id)
    endpoint, enumerate wedges only at each edge's lower endpoint, and
    close them against the oriented edge list.  Every triangle has
    exactly one vertex where both its oriented edges originate, so the
    count is exact with no /3 correction — and the wedge relation is
    bounded by O(m^1.5) TOTAL and O(√m) per vertex regardless of skew:
    a degree-d hub generates 0 wedges instead of C(d, 2), which is the
    whole fix for the power-law "last reducer".

    Node ids must be non-negative and < 2^31 (asserted distributed) so
    the (degree, id) order packs into one BIGINT comparison key.

    Output: one row ``(triangles)`` — or, with ``per_node``, one row
    ``(n, triangles)`` per node (every node listed, zero-filled), each
    triangle crediting all three corners.

    100 TB: normalization is one distinct; degrees one groupBy; the
    wedge enumeration and the closing check are plain key-equi joins
    (no cartesian anywhere) whose sizes the orientation bounds.

    DENSITY CONTRACT (enforced): O(m^1.5) is the best exact bound known
    for distributed wedge counting, and on dense graphs it is a real
    wall — the sf1 supplier co-purchase fixture (~6M edges, avg
    degree ~160) runs ~450 s; at 100× the exact path is days.  Before
    building the wedge relation this function computes its EXACT size,
    Σ_v C(d⁺_v, 2) over the oriented out-degrees (the pre-wedge joins
    only, never the wedges themselves), and raises ``ValueError`` if
    it exceeds ``max_wedges`` (default 2e9; the sf0.1 fixture
    enumerates 1.35e8 and passes, the sf1 dense fixture ~1e10 and
    trips) so a user cannot SILENTLY run a multi-hour exact count on a
    dense graph.

    EAGER when ``max_wedges`` is set (r13 ADVICE, now documented): the
    probe runs a Spark job AT CALL TIME — normalize + degree +
    orientation execute before this function returns, unlike the rest
    of the lazy builder API.  The oriented edge relation is
    local-checkpointed first, so those stages run ONCE (the probe's
    action materializes the checkpoint and the returned plan reuses
    it, instead of recomputing the pre-wedge chain).  When the graph
    is dense and an estimate suffices, use
    :func:`triangle_count_sampled` (deterministic DOULION edge
    sampling — seconds at the same scale, oracle-replayable); to
    insist on the exact path — or to keep construction fully lazy —
    pass ``max_wedges=None`` (or a bigger budget) consciously.
    """
    lim = 1 << 31
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    ok = (
        s.isNotNull() & d.isNotNull()
        & (s >= 0) & (s < lim) & (d >= 0) & (d < lim)
    )
    checked = edges.filter(
        F.assert_true(
            ok, F.lit(f"triangle_count node ids must be in [0, {lim})")
        ).isNull()
    )
    und = _edges(checked, s, d, simple=True)
    deg = _degree(und)
    # comparison key: degree-major, id-minor — a total order
    key = (F.col("deg") * F.lit(lim) + F.col("n")).alias("ok")
    ranked = deg.select("n", key)
    withk = und.join(
        ranked.select(F.col("n").alias("__s"), F.col("ok").alias("ka")), "__s"
    ).join(ranked.select(F.col("n").alias("__d"), F.col("ok").alias("kb")), "__d")
    lo_first = F.col("ka") < F.col("kb")
    oriented = withk.select(
        F.when(lo_first, F.col("__s")).otherwise(F.col("__d")).alias("s"),
        F.when(lo_first, F.col("__d")).otherwise(F.col("__s")).alias("d"),
        F.when(lo_first, F.col("kb")).otherwise(F.col("ka")).alias("kd"),
    )
    if max_wedges is not None:
        # Exact wedge-relation size from the oriented out-degrees —
        # runs only the cheap pre-wedge stages (normalize, degree,
        # orientation joins), never materializes a wedge.  One bounded
        # 1-row collect (the codebook/centroid discipline).  Eager at
        # construction (docstring contract); the checkpoint makes the
        # probe's materialization REUSED by the returned plan instead
        # of the pre-wedge chain computing twice (r13 ADVICE).
        oriented = oriented.localCheckpoint(eager=False)
        probe = (
            oriented.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__od"))
            .agg(
                F.sum(
                    F.col("__od") * (F.col("__od") - 1) / 2
                ).alias("__wedges")
            )
            .first()
        )
        n_wedges = float(probe["__wedges"] or 0.0)
        if n_wedges > float(max_wedges):
            raise ValueError(
                f"triangle_count: this graph enumerates "
                f"{n_wedges:.3g} wedges (> max_wedges={max_wedges:.3g}) "
                "— the exact degree-ordered path is O(m^1.5) and this "
                "graph is too dense for it to finish in reasonable "
                "time.  Use triangle_count_sampled (DOULION estimate, "
                "deterministic and oracle-replayable) or pass a larger "
                "max_wedges / max_wedges=None to insist on exact."
            )
    e1 = oriented.select(F.col("s"), F.col("d").alias("v"), F.col("kd").alias("kv"))
    e2 = oriented.select(F.col("s"), F.col("d").alias("w"), F.col("kd").alias("kw"))
    wedges = e1.join(e2, "s").filter(F.col("kv") < F.col("kw")).select("s", "v", "w")
    closing = oriented.select(F.col("s").alias("v"), F.col("d").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    if per_node:
        member = tri.select(
            F.explode(F.array("s", "v", "w")).alias("n")
        ).groupBy("n").agg(F.count(F.lit(1)).alias("triangles"))
        return deg.select("n").join(member, "n", "left").select(
            "n", F.coalesce("triangles", F.lit(0).cast("bigint")).alias("triangles")
        )
    return tri.agg(F.count(F.lit(1)).alias("triangles"))


def triangle_count_sampled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    fraction: float = 0.25,
    buckets: int = 10_000,
) -> DataFrame:
    """DOULION edge-sampled triangle ESTIMATE (Tsourakakis et al.,
    KDD 2009): keep each undirected edge with probability p, count
    triangles EXACTLY on the sampled graph, scale by 1/p³ — the scale
    answer for dense graphs where :func:`triangle_count`'s exact
    O(m^1.5) wedge relation is unpayable (the sf1 supplier
    co-purchase graph takes ~450 s exact; sampling at p cuts the
    wedge stage by ~p^1.5 and the closing join input by p, so p=0.25
    is ~8× cheaper and p=0.1 ~30×, with relative error ~1/√(p³·T) —
    small precisely on the triangle-rich graphs that need it).

    The sample is DETERMINISTIC, not Bernoulli: an edge survives iff
    its canonical pair's md5 bucket falls under ⌊fraction·buckets⌉
    (the :func:`operators.relational.hash_sample` discipline), so any
    engine selects the SAME edge subset and the estimate is
    oracle-replayable bit-for-bit — the effective p is the exact
    literal kept_buckets/buckets, and the 1/p³ scale rides into both
    plans as the SAME Python-computed double literal (the Benford /
    LSH-hyperplane precedent; never engine POWER()).

    Output: ONE row (sampled_edges, sampled_triangles, est6) — est6
    is the ROUND-6 estimate sampled_triangles/p³ (+0.0).

    100 TB: normalization + the md5 filter are narrow maps BEFORE the
    heavy stages, so degrees, orientation, wedges, and the closing
    join all run on the p-sized graph; the two scalar aggregates join
    as single-row broadcasts.
    """
    kept = int(round(fraction * buckets))
    if not (0 < kept <= buckets):
        raise ValueError(
            f"triangle_count_sampled: fraction {fraction} with "
            f"{buckets} buckets keeps {kept} — need 0 < kept ≤ buckets"
        )
    p_eff = kept / buckets
    inv_p3 = 1.0 / (p_eff ** 3)
    und = _edges(
        edges, F.col(src).cast("bigint"), F.col(dst).cast("bigint"), simple=True
    )
    key = F.concat_ws(
        "|", F.col("__s").cast("string"), F.col("__d").cast("string")
    )
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    samp = und.filter(bucket % buckets < kept)
    m = samp.agg(F.count(F.lit(1)).cast("bigint").alias("sampled_edges"))
    tri = triangle_count(samp, "__s", "__d").select(
        F.col("triangles").cast("bigint").alias("sampled_triangles")
    )
    return m.crossJoin(F.broadcast(tri)).select(
        "sampled_edges",
        "sampled_triangles",
        (
            F.round(
                F.col("sampled_triangles").cast("double") * F.lit(inv_p3), 6
            )
            + F.lit(0.0)
        ).alias("est6"),
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: c(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)), zero for degree < 2 — how close each node's
    neighborhood is to a clique (community-quality / link-spam
    signal).  Same plan skeleton as :func:`triangle_count` plus one
    degree join; all key-equi.

    Output: (n, deg, triangles, coef)."""
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    deg = _degree(_edges(edges, s, d, simple=True))
    tri = triangle_count(edges, src, dst, per_node=True)
    return deg.join(tri, "n").select(
        "n",
        "deg",
        "triangles",
        F.when(
            F.col("deg") >= 2,
            2.0 * F.col("triangles") / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("coef"),
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """Nodes of the k-CORE of the undirected simple graph: the maximal
    subgraph where every node keeps degree ≥ k — computed by iterative
    peeling (drop all nodes with current degree < k, repeat to a
    fixpoint).  The web-graph quality primitive: high-k cores mark
    densely-embedded pages, pendant/chain spam peels away.

    Peeling is a FIXPOINT: running more rounds than needed is a no-op,
    which is what makes the op oracle-replayable — a SQL twin can
    unroll a fixed round count ≥ the convergence point and match
    exactly.  Needing more than ``max_rounds`` peel rounds raises (the
    dedup_clusters discipline) rather than returning a half-peeled
    graph.

    Output: one row (n) per surviving node.

    100 TB: each round is one degree groupBy + two anti-joins, all
    key-equi on node ids; the live edge list shrinks monotonically and
    is checkpointed every round to keep lineage constant-depth.  The
    convergence probe is one `limit(1)` scan of the weak-node relation
    per round (driver sees 0/1 rows).
    """
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    live = _edges(edges, s, d, simple=True).localCheckpoint(eager=False)

    def weak(live: DataFrame) -> DataFrame:
        return _degree(live).filter(F.col("deg") < int(k)).select("n")

    def peel(live, i, cut):
        w = weak(live)
        return cut(
            live.join(w.withColumnRenamed("n", "__s"), "__s", "left_anti")
            .join(w.withColumnRenamed("n", "__d"), "__d", "left_anti")
            .select("__s", "__d")
        )

    live = _iterate(
        peel,
        live,
        max_rounds,
        _EVERY_KCORE,
        done=lambda live: not weak(live).limit(1).count(),
        fail=f"k_core did not converge within {max_rounds} rounds (k={k})",
    )
    return live.select(F.explode(F.array("__s", "__d")).alias("n")).distinct()


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 5,
) -> DataFrame:
    """SYNCHRONOUS label propagation (community detection): every node
    starts with its own id as label; each round all nodes
    simultaneously adopt the most frequent label among their
    neighbors, ties broken by the SMALLEST label; isolated nodes (and
    any node whose neighbors vanish) keep their label.  Direction is
    ignored (edges symmetrized, self-loops and duplicates dropped).

    Determinism contract: with the (count DESC, label ASC) tie rule
    the entire trajectory is a pure function of the graph — including
    the oscillations synchronous LPA is known for on bipartite
    structures — so a SQL twin replaying EXACTLY ``rounds`` rounds
    matches bit-for-bit.  Unlike k_core/dedup_clusters this is NOT a
    fixpoint op: over-unrolling changes the answer, so oracle and
    engine must agree on the round count (both take it as a
    parameter; no convergence claim is made or needed).

    Output: (node, label) — nodes sharing a label after ``rounds``
    rounds are one community.

    100 TB: per round ONE message join (labels onto the symmetrized
    edge list, which the checkpoint leaves unpartitioned, so both join
    sides are exchanged every round), one (node, label) count
    aggregation (map-side combined, bounded by the edge count), one
    per-node argmax as a row_number window on the node partitioning
    (label-cardinality-sized input, type-generic — node ids may be
    strings), and one carry-over left join against the node relation.
    Labels are checkpointed every round.
    """
    from pyspark.sql import Window

    e = (
        _edges(edges, F.col(src), F.col(dst), symmetric=True, simple=True)
        .repartition("__s")
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("__s").alias("node")).distinct().localCheckpoint(
        eager=False
    )

    def adopt(labels, i, cut):
        msgs = e.join(
            labels, e["__s"] == labels["node"]
        ).select(F.col("__d").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        # argmax by (count DESC, label ASC): a row_number window on
        # the node partitioning (input is per-(node, distinct label) —
        # already aggregated, far smaller than the message stream) —
        # type-generic, so node ids may be strings.
        wbest = Window.partitionBy("node").orderBy(
            F.col("__c").desc(), F.col("label").asc()
        )
        best = (
            counts.withColumn("__rn", F.row_number().over(wbest))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        # labels IS the node relation every round (static graph), so
        # the carry-over needs no extra nodes join
        return cut(
            labels.join(best, "node", "left").select(
                "node", F.coalesce(F.col("__new"), F.col("label")).alias("label")
            )
        )

    labels = nodes.select("node", F.col("node").alias("label"))
    return _iterate(adopt, labels, rounds, _EVERY_LPA)


def common_neighbors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_wedge_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor LINK PREDICTION: for every unordered node pair
    (u < v) sharing at least ``min_common`` neighbors, the shared
    count and the neighbor-set Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| —
    the classic "people you may know" / co-citation score.  Direction,
    duplicates, and self-loops are normalized away.

    Output: (u, v, common, jaccard), u < v, existing edges INCLUDED
    (filter them out downstream with an anti-join against the edge
    list when predicting genuinely new links — kept here so the score
    also serves similarity queries on existing neighbors).

    100 TB: wedge enumeration through a hub with degree d costs
    C(d, 2) pairs — the quadratic hub trap.  ``max_wedge_degree``
    EXCLUDES nodes above the bound from the wedge-center role (their
    wedges are not enumerated; counts through them are lost — a
    documented approximation, the cap_events_per_key discipline for
    graphs: a 10⁶-degree celebrity would otherwise emit 5·10¹¹
    pairs).  Everything else is key-equi: one distinct, one degree
    aggregation, one adjacency self-join on the wedge center, one
    pair-keyed count, two degree lookups.
    """
    adj = _edges(
        edges, F.col(src), F.col(dst), symmetric=True, simple=True
    ).localCheckpoint(eager=False)
    deg = adj.groupBy("__d").agg(F.count(F.lit(1)).alias("__deg")).select(
        F.col("__d").alias("node"), "__deg"
    )
    centers = adj
    if max_wedge_degree is not None:
        wdeg = adj.groupBy("__s").agg(F.count(F.lit(1)).alias("__wd"))
        centers = adj.join(
            wdeg.filter(F.col("__wd") <= int(max_wedge_degree)).select("__s"),
            "__s",
        )
    a, b = centers.alias("a"), centers.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__d") < F.col("b.__d")),
    ).select(F.col("a.__d").alias("u"), F.col("b.__d").alias("v"))
    counts = pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common")
    ).filter(F.col("common") >= int(min_common))
    du = deg.select(F.col("node").alias("u"), F.col("__deg").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("__deg").alias("__dv"))
    return (
        counts.join(du, "u")
        .join(dv, "v")
        .select(
            "u", "v", "common",
            (
                F.col("common").cast("double")
                / (F.col("__du") + F.col("__dv") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    DIRECTED edge relation: per round

        auth(v) = Σ_{u→v} hub(u)      then rescale toward L1 = 10^12
        hub(u)  = Σ_{u→v} auth(v)     then rescale toward L1 = 10^12

    in exact fixed-point integer arithmetic (sums widened through
    DECIMAL(38,0)/HUGEINT — an int64 sum wraps past ~9.2M edges or a
    10^7-degree hub).  Rescaling divides every
    score by the INTEGER divisor max(Σx div 10^12, 1) (the L1 total
    in units of 10^12), so the post-round total lands in
    [10^12, ~2·10^12) instead of exactly 10^12 — a deliberate choice:
    division by a shared positive constant preserves the ranking
    EXACTLY, stays pure int64 (an exact x·10^12 div Σx needs 128-bit
    intermediates, and Spark's DECIMAL(38) integral divide ROUNDS
    when precision overflows — measured off-by-one vs true floor), and
    keeps every round engine-replayable bit-for-bit.  Textbook HITS
    uses L2 norms, whose sqrt would break integer exactness — scale
    choice never changes HITS rankings.  Duplicate edges count as
    parallel edges.

    Output: (node, hub, authority) as doubles (units/10^12); nodes
    with no out-edges have hub 0, no in-edges authority 0 — every
    node of the graph is listed.

    100 TB: per round two key-equi join+aggregate passes over the
    checkpointed edge list (the src→dst transpose and back, inherent to
    HITS; the checkpoint keeps no partitioning, so each join exchanges
    the edge list) and two 1-row broadcast scalars; scores are
    node-sized relations checkpointed every round, since each round's
    broadcast L1 total is an action over them.  No windows, no collect
    beyond the scalar frames Spark broadcasts itself.
    """
    e = (
        _edges(edges, F.col(src), F.col(dst))
        .repartition("__s")
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = nodes.select("node", F.lit(PAGERANK_UNIT).cast("bigint").alias("__h"))

    def normalize(scores: DataFrame, col: str) -> DataFrame:
        # Raw sums and totals widen through DECIMAL(38,0): at |E| over
        # ~9.2M edges (or a 10^7-degree hub) an int64 sum of 10^12-unit
        # scores would silently wrap in Spark's non-ANSI mode while the
        # DuckDB twin's HUGEINT stays exact.  The rescale divides a
        # decimal by an int64 divisor — a PLAIN integral divide, which
        # both engines floor exactly (unlike the x·UNIT div Σx form,
        # whose wide multiply trips Spark's precision-overflow rounding
        # — measured r7; and unlike DuckDB's DECIMAL //, which routes
        # through doubles — HUGEINT // is the exact oracle-side twin).
        total = scores.agg(
            F.sum(F.col(col).cast("decimal(38,0)")).alias("__tot")
        )
        return scores.crossJoin(F.broadcast(total)).select(
            "node",
            F.expr(
                f"CAST(CAST({col} AS DECIMAL(38,0)) div"
                f" greatest(CAST(__tot div {PAGERANK_UNIT} AS BIGINT),"
                f" cast(1 as bigint)) AS BIGINT)"
            ).alias(col),
        )

    def reinforce(state, i, cut):
        hub = state[0]
        raw_a = (
            e.join(hub, e["__s"] == hub["node"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(F.col("__h").cast("decimal(38,0)")).alias("__a"))
        )
        auth = normalize(
            nodes.join(raw_a, "node", "left").select(
                "node",
                F.coalesce("__a", F.lit(0)).cast("decimal(38,0)").alias("__a"),
            ),
            "__a",
        )
        raw_h = (
            e.join(auth, e["__d"] == auth["node"])
            .groupBy(F.col("__s").alias("node"))
            .agg(F.sum(F.col("__a").cast("decimal(38,0)")).alias("__h"))
        )
        hub = normalize(
            nodes.join(raw_h, "node", "left").select(
                "node",
                F.coalesce("__h", F.lit(0)).cast("decimal(38,0)").alias("__h"),
            ),
            "__h",
        )
        return cut(hub), cut(auth)

    hub, auth = _iterate(reinforce, (hub, None), iterations, _EVERY_HITS)
    unit = F.lit(float(PAGERANK_UNIT))
    return (
        nodes.join(hub, "node")
        .join(auth, "node")
        .select(
            "node",
            (F.col("__h").cast("double") / unit).alias("hub"),
            (F.col("__a").cast("double") / unit).alias("authority"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 5,
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS: the minimum HOP COUNT from the nearest source
    to every node reachable within ``max_hops`` edges.  The reach/
    influence primitive the graph family was missing (pagerank ranks,
    k-core peels, LPA clusters — nothing measured distance).

    ``sources`` is a driver-sized seed list by contract (a query's
    seed set, compiled into the plan as literals — the pagerank
    ``seeds`` discipline), NOT a relation.

    Frontier form: only nodes FIRST reached in round i−1 propagate in
    round i.  Exact for unweighted BFS (the first hop count that
    reaches a node is its minimum), and the whole computation is
    integer, so any engine replays it bit-for-bit.  A fixed
    ``max_hops`` keeps it SQL-expressible: the oracle unrolls the same
    rounds as CTEs; "distance within k hops" is well-defined whether
    or not the frontier has emptied, so no convergence guard is
    needed (the Bellman-Ford k-round contract, unlike k_core's
    fixpoint guard).

    Output: (node, hops) — sources at 0; unreachable-within-budget
    nodes absent.

    100 TB: the deduplicated edge list is shuffled once onto the source
    key and checkpointed; the checkpoint keeps no partitioning, so each
    round's frontier⋈edges join exchanges the edge list again, then one
    anti-join against the settled set on the node key.  The frontier is
    the working set — on real graphs it peaks and shrinks, so late
    rounds are cheap; the settled relation grows monotonically and is
    checkpointed every 4th round (no per-round action runs here).  The
    driver holds only the seed literals.
    """
    if not sources:
        raise ValueError("bfs_distances: sources must be a non-empty list")
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    e = (
        _edges(edges, s, d, symmetric=not directed)
        .distinct()
        .repartition("__s")
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    seeds = spark.createDataFrame(
        [(int(x),) for x in sources], "node bigint"
    ).distinct()
    # Seeds that never appear in the edge relation still belong in the
    # output at hop 0 (they are trivially reachable from themselves).
    settled = seeds.withColumn("hops", F.lit(0).cast("bigint"))

    def expand(state, i, cut):
        settled, frontier = state
        reached = (
            frontier.join(e, frontier.node == e.__s)
            .select(F.col("__d").alias("node"))
            .distinct()
        )
        newly = reached.join(settled, "node", "left_anti").withColumn(
            "hops", F.lit(i).cast("bigint")
        )
        return cut(settled.unionByName(newly)), cut(newly.select("node"))

    state = (settled, settled.select("node"))
    return _iterate(expand, state, max_hops, _EVERY_BFS)[0]


def shortest_paths(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    iterations: int = 5,
    directed: bool = True,
) -> DataFrame:
    """Fixed-iteration Bellman-Ford: the minimum WEIGHTED distance
    from the nearest source to every node, over paths of at most
    ``iterations`` edges.  The k-edge bound is the semantics, not an
    approximation artifact — "cheapest route using ≤ k legs" is
    well-defined and exactly SQL-replayable with k unrolled rounds
    (run iterations ≥ diameter and it equals true SSSP).

    Weights are POSITIVE INTEGERS (the pagerank weight contract —
    latency ms, toll cents, count weights), enforced by a distributed
    assert_true with int64 overflow headroom: path sums stay below
    max_hops·10^5·|longest chain| « 2^63, and pure integer min/plus
    arithmetic makes any engine bit-identical.  ``weight_col=None``
    means unit weights (then this is BFS with distances == hops).

    Output: (node, dist) — sources at 0; nodes unreachable within the
    edge budget absent.

    100 TB: classic relaxation — each round joins the CURRENT distance
    relation to the checkpointed edge list on the source key, takes the
    map-side-combinable min per destination, and merges with a
    node-key groupBy.  The checkpoint keeps no partitioning, so the
    join exchanges the edge list every round, then the transpose onto
    dst — the pagerank shape.  The distance relation is node-sized,
    checkpointed every 4th round.  No driver-side state beyond seeds.
    """
    if not sources:
        raise ValueError("shortest_paths: sources must be a non-empty list")
    s, d = F.col(src).cast("bigint"), F.col(dst).cast("bigint")
    e = _edges(
        edges,
        s,
        d,
        weight_col,
        f"shortest_paths: {weight_col} must be an integer "
        "in [1, 1e5] (positive, with int64 path-sum headroom)",
        symmetric=not directed,
    ).localCheckpoint(eager=False)
    spark = edges.sparkSession
    dist = (
        spark.createDataFrame([(int(x),) for x in sources], "node bigint")
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
    )

    def relax(dist, i, cut):
        relaxed = (
            dist.join(e, dist.node == e.__s)
            .groupBy(F.col("__d").alias("node"))
            .agg(F.min(F.col("dist") + F.col("__w")).alias("dist"))
        )
        return cut(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    return _iterate(relax, dist, iterations, _EVERY_SSSP)
