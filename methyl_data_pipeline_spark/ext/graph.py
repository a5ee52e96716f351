"""Distributed connected components for duplicate-cluster resolution.

Pair generation (MinHash LSH, SimHash, embedding LSH) yields EDGES;
a dedup pipeline needs CLUSTERS — every document mapped to one
canonical representative, transitively: if A~B and B~C then {A,B,C}
collapse together even when A and C never met in a bucket.

Algorithm: iterative min-label propagation as DataFrame ops — each
round every node takes the min label over itself and its neighbors
(one edge-keyed join + groupBy-min shuffle), converging in
O(graph diameter) rounds with a bounded count() action per round as
the stopping test. Near-dup clusters are shallow (LSH links most
members directly, diameters in the low single digits), so rounds stay
small at any corpus size; for adversarially deep graphs (long chains),
the alternating large-star/small-star contraction of Kiveris et al.
(MapReduce CC, 2014) bounds rounds at O(log n) and slots behind the
same signature.

The converged label IS the component's minimum node id — exactly the
deterministic "keep smallest id" winner rule the exact-dedup path uses.

Checkpoint durability: both loops truncate lineage per round with
:func:`cache.cut`, executor-local by default — if an executor is lost
(or dynamic allocation reclaims it) the checkpointed rounds cannot be
recomputed and downstream actions fail unrecoverably. Under dynamic
allocation or any fault-tolerance requirement, pass
``reliable_checkpoint=True`` (requires
``spark.sparkContext.setCheckpointDir(...)``): one HDFS/object-store
write per round that survives executor loss. Superseded rounds are
freed by ContextCleaner, not by ``unpersist`` (see :func:`cache.cut`),
which is why the loops simply drop references.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from methyl_data_pipeline_spark import cache


def _driver_components(rows, spark, schema) -> DataFrame:
    """Union-find over a collected (u, v) edge list with min-id
    component labels — identical output contract to the distributed
    loop (every node appearing in the edges, component = min member).
    Path-parity pinned by a property test."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    comp_min: dict = {}
    roots = {x: find(x) for x in parent}
    for x, r in roots.items():
        m = comp_min.get(r)
        comp_min[r] = x if m is None or x < m else m
    return spark.createDataFrame(
        [(x, comp_min[r]) for x, r in roots.items()], schema
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    reliable_checkpoint: bool = False,
    driver_threshold: int = 250_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` = min node id of the connected component.

    Small-graph fast path: near-dup edge sets are OUTPUT-sized, not
    corpus-sized — for the common case they fit on the driver, where
    union-find resolves them in one pass instead of O(diameter)
    join+count rounds (each ~0.5-1 s of fixed job overhead; measured
    ~2-3 s saved per dedup_clusters / semantic_dedup call). The
    undirected edge frame is persisted ANYWAY for the iterative loop,
    so the size probe costs one aggregate on the cached frame — it
    counts rows AND NULL endpoints in the same job (ADVICE r10: a
    NULL-bearing edge list must not pay the collect only to discard
    it). At or under ``driver_threshold`` undirected, NULL-free rows
    the edges collect and resolve driver-side with the identical
    min-id contract. The default 250k bounds the collect at ~50 MB of
    driver heap — a collected row is a Row object plus two boxed
    longs, ~200 B real, not the 16 B of raw payload (ADVICE r10
    sizing fix). Set ``driver_threshold=0`` to force the distributed
    loop. Edges with a NULL endpoint (no caller produces them) route
    to the distributed path rather than risking Python None-vs-int
    comparisons.

    Raises RuntimeError if ``max_iter`` rounds don't converge (a
    diameter that deep means the input is not a near-dup pair list —
    switch to star-contraction rather than silently truncating, which
    would split clusters)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    und = cache.track(und)

    if driver_threshold:
        # one aggregate materializes the persisted frame AND gates the
        # collect on both size and NULL-freeness — no separate probe job
        n_und, n_null = und.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("u").isNull() | F.col("v").isNull(), 1)),
        ).first()
        if n_und <= driver_threshold and n_null == 0:
            rows = [(r[0], r[1]) for r in und.collect()]
            ut = und.schema["u"].dataType.simpleString()
            return _driver_components(
                rows,
                und.sparkSession,
                f"node {ut}, component {ut}",
            )

    labels = und.select("u").distinct().withColumn("label", F.col("u"))
    labels = cache.track(labels)
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("_nbr"))
        )
        # keep the pre-round label alongside the new one so the
        # convergence test is a column compare on THIS frame — no
        # second join against the old labels (halves per-round joins).
        # checkpoint (not persist): each round's plan references the
        # previous round's, so lineage — and Catalyst's cost to
        # plan/render it — grows geometrically without truncation
        stepped = cache.cut(
            labels.join(nbr_min, "u", "left").select(
                "u",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce("_nbr", F.col("label"))
                ).alias("label"),
            ),
            reliable_checkpoint,
        )
        changed = stepped.filter(F.col("label") < F.col("_old")).count()
        # rebind and drop the superseded round (ContextCleaner frees its
        # blocks); label frames are (node, label) pairs, so at most
        # O(log-diameter) small block sets are ever pending collection
        labels = stepped.select("u", "label")
        if changed == 0:
            return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter too large for label propagation; use "
        "connected_components_contraction"
    )


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood."""
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = adj.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        adj.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller-or-equal
    neighbors (and itself) to the minimum of that set."""
    # orient each edge high -> low so Γ(u) here is the smaller neighbors
    lo = F.least(F.col("u"), F.col("v"))
    hi = F.greatest(F.col("u"), F.col("v"))
    adj = e.select(hi.alias("u"), lo.alias("v")).distinct()
    m = adj.groupBy("u").agg(F.min("v").alias("m"))
    joined = adj.join(m, "u")
    to_nbrs = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    to_self = m.select("u", F.col("m").alias("v"))
    return (
        to_nbrs.union(to_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_contraction(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", 2014) — O(log n) rounds regardless of graph diameter, so
    it handles the adversarially deep graphs (long chains) that
    min-label propagation cannot. Same output contract as
    :func:`connected_components`: component = min node id, the
    deterministic keep-smallest-id dedup winner.

    Per round: two groupBy-min shuffles + two bounded aggregate actions
    (count + xxhash checksum) for the fixed-point test. Edge-set size
    never exceeds the input after the first round (each star emits at
    most one edge per adjacency entry), so at 100 TB the cost per round
    tracks the duplicate-pair count, not n².
    """
    nodes = (
        edges.select(F.col(src).alias("u"))
        .union(edges.select(F.col(dst).alias("u")))
        .distinct()
    )
    nodes = cache.track(nodes)

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = cache.track(e)

    def _fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: ANSI mode makes a 64-bit sum of hashes
            # an overflow error; xor is order-insensitive and closed
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = _fingerprint(e)
    for _ in range(max_iter):
        # truncate the geometrically growing lineage each round (see
        # the propagation loop); eager materialization happens before
        # the fingerprint action. Superseded rounds are released by
        # ContextCleaner once their references drop (module docstring).
        stepped = cache.cut(
            _small_star(_large_star(e)), reliable_checkpoint
        )
        new_fp = _fingerprint(stepped)
        e = stepped
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds"
        )

    # fixed point is a star forest oriented child -> root (small-star
    # output is always high -> low); roots map to themselves
    return (
        nodes.join(e.withColumnRenamed("v", "component"), "u", "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce("component", F.col("u")).alias("component"),
        )
    )
