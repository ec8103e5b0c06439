"""Iterative graph algorithms as bounded DataFrame rounds.

Sibling of ``dedup.connected_components`` (smallest-id label
propagation): here, PageRank over an explicit edge list. Both follow
the same distributed-iteration contract — each round is one keyed
join + one aggregate (the natural BSP step), lineage truncated per
round so the plan never grows superlinearly.

Determinism: ranks are kept in *integer* fixed-point (``scale``
units). Every round does only integer division and integer sums —
order-free and overflow-checked by construction — so a SQL oracle can
unroll the same rounds and hash-match exactly; no float PageRank ever
reproduces bitwise across engines.

Scale: cost per round is |E| shuffled on dst — the same shape as any
big groupBy join; skewed high-degree vertices are AQE's skew-join
case. Rounds are bounded (default 3): production PageRank runs a
fixed budget or a convergence threshold on rank deltas.

Lineage vs storage: ``pagerank`` stages its per-vertex out-degree
frame with ``localCheckpoint(eager=False)``. That truncates lineage,
so on a multi-executor cluster a lost executor fails the query
instead of recomputing the frame, and the checkpointed blocks stay in
executor storage until the DataFrame is garbage-collected — repeated
calls in one session briefly hold O(|V|) rows each. At |V| rows
re-running the query is cheap, the standard trade for iterative
frames; ``persist()`` with an explicit ``unpersist()`` at exit is the
alternative if fault tolerance or storage pressure ever matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import _profile_salt, _shuffle_partitions  # noqa: F401

#: Fixed-point unit for ranks (1.0 == PAGERANK_SCALE).
PAGERANK_SCALE = 1_000_000
#: Damping factor as an exact percentage (0.85).
PAGERANK_DAMP_PCT = 85
PAGERANK_ROUNDS = 3


def pagerank(
    edges: DataFrame,
    *,
    rounds: int = PAGERANK_ROUNDS,
    scale: int = PAGERANK_SCALE,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 5,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Bounded-round integer PageRank over a directed edge list.

    ``rank_{r+1}(v) = (15% · scale) + 85% · Σ_{u→v} rank_r(u) div
    outdeg(u)`` with all arithmetic in integer fixed-point (div =
    floor division, percentages via exact ``·85 div 100``). Assumes
    every vertex has outdegree ≥ 1 (feed an undirected/doubled edge
    list for bipartite affinity ranking — then no vertex dangles).

    Returns (v, rank) after ``rounds`` rounds. Each round:
    broadcast-or-shuffle join ranks→edges on src, aggregate on dst —
    one shuffle per round.

    Skew guard: the per-round dst aggregate is **two-stage salted** —
    partial ``SUM`` on ``(dst, hash(src) mod salt_partitions)``, then
    final ``SUM`` on ``dst``. A power-law hub vertex (one dst holding
    30%+ of |E|) therefore lands on ``salt_partitions`` reducers in the
    wide stage and contributes ≤ ``salt_partitions`` pre-summed rows to
    the final stage, instead of funnelling its whole in-edge set
    through one task. Integer SUM is associative, so the result (and
    the oracle hash) is unchanged; ``salt_partitions=1`` degrades to
    the plain single-stage aggregate.

    ``salt_partitions=None`` (default) chooses from a measured degree
    profile, the same plan decision as ``auto_salted_join``: one
    map-combined aggregate over edges yields the max in-degree ``hot``
    and ``|E|``; with ``target = |E| / max(shuffle_partitions, 32)``
    rows per reducer (`joins._profile_salt`), an even graph
    (``hot ≤ 4·target``) takes the plain single-stage aggregate (the extra stage costs more than it saves —
    measured +30% on the even sf0.1 supply graph), while a hub graph
    salts by ``ceil(hot / target)`` clamped to [2, 32]. The profile is
    measured once and reused by every round. Lineage is truncated every
    ``checkpoint_every`` rounds: a bounded 3-round run stays ONE lazy
    plan (a per-round localCheckpoint forces a full materialization
    each round — measured 37.7 s → checkpoint-free equivalent for the
    same result on the 10× graph), while a long convergence loop
    still cannot grow its plan superlinearly.
    """
    if salt_partitions is None:
        # The profile is a separate action; if ``edges`` is a derived
        # frame that action would re-execute the whole construction,
        # and so would every round's plan copy. Materialize once —
        # profile and all rounds then reuse it. (At 100 TB this is
        # "stage the edge list", the standard first step of any
        # multi-round graph job.) Skip when edges is already
        # materialized (LogicalRDD) or a plain scan — re-checkpointing
        # those only copies data.
        plan = edges._jdf.queryExecution().optimizedPlan().toString()
        derived = any(k in plan for k in ("Join", "Aggregate", "Window", "Union"))
        if derived and "LogicalRDD" not in plan.splitlines()[0]:
            edges = edges.localCheckpoint()
        salt_partitions = _profile_salt(edges, dst, max_salt=32)
    # Materialize the degree frame ONCE (lazy localCheckpoint): deg is
    # consumed by round 0's rank init and by every round's rank⨝deg
    # join, and without the boundary each consumer re-runs the full
    # |E| scan + exchange + count aggregate — the r12 after-plan showed
    # FOUR copies of that subtree for 3 rounds (no ReusedExchange: the
    # consumers differ in projection). One O(|V|) executor-local frame
    # replaces them; at 100 TB this is the same "stage the per-vertex
    # state" step as staging the edge list above (lineage/storage
    # trade: module docstring). Integer counts, same values —
    # oracle-identical.
    deg = (
        edges.groupBy(F.col(src).alias("v"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=False)
    )
    ranks = deg.select("v", F.lit(scale).cast("long").alias("rank"))
    base = (scale * (100 - PAGERANK_DAMP_PCT)) // 100
    for r in range(1, rounds + 1):
        # rank/outdeg are both keyed on v — join them first (one
        # co-partitioned join), then fan out along edges.
        per_src = ranks.join(deg, "v").select(
            F.col("v").alias("__u"), F.expr("rank div outdeg").alias("c")
        )
        contrib = edges.join(per_src, edges[src] == F.col("__u"))
        if salt_partitions > 1:
            # Stage 1: spread each dst's in-edges over salt_partitions
            # reducers (salt from src → deterministic, evenly spread).
            contrib = (
                contrib.groupBy(
                    F.col(dst).alias("v"),
                    F.pmod(F.xxhash64(F.col(src)), F.lit(salt_partitions)).alias(
                        "__salt"
                    ),
                )
                .agg(F.sum("c").alias("c"))
                .select("v", "c")
            )
        else:
            contrib = contrib.select(F.col(dst).alias("v"), "c")
        ranks = (
            contrib.groupBy("v")
            .agg(F.sum("c").alias("s"))
            .select(
                "v",
                (F.lit(base) + F.expr(f"({PAGERANK_DAMP_PCT} * s) div 100"))
                .cast("long")
                .alias("rank"),
            )
        )
        if r % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()
    return ranks
