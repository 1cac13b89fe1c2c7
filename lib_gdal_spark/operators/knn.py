"""Exact kNN: one brute-force pass for small requests, ring expansion over
a doubling cell grid for the rest.

Reference semantics: the gridding nearest-neighbor search walks a quadtree
with a search radius that DOUBLES until enough points are found
(/root/reference/alg/gdalgrid.cpp:879-995, radius doubling :950). The
distributed recast: queries and targets are keyed to a uniform planar grid;
round r uses cell size cs*2^r and joins each query's 3x3 cell neighborhood
(one equi-join after a x9 explode of the surviving queries — never a cross
join). A query retires when it has >= k candidates AND its kth distance is
<= the guaranteed-covered radius (one cell size: any point within cs_r of a
query is inside the 3x3 block). That retire rule makes the result EXACT —
verified against the brute-force plan in tests.

Strategy (`knn_ring`): the doubling loop is the right plan for large inputs
and the wrong one for a small request, where its fixed cost — a `take(1)`
per round, the recompute of the finished round, local checkpoints from
round 3 on — dwarfs the work. So `knn_ring` reads both sides' row counts
from the optimized plan's statistics (no Spark job: they are known for
local relations such as `createDataFrame` from pandas, and for cached
relations; a parquet scan or a projection over one has none). When both
are known and Q x T <= PAIR_BUDGET it returns `knn_bruteforce`, one pass;
otherwise, and whenever a count is unknown, it runs the ring. The two plans
give the same rows (the same distance expression, the same (dist, tid)
order) for every query the ring retires within max_rounds.

Scale notes:
- brute force: a nested-loop join with the smaller side broadcast, and a
  per-query row_number window that Spark plans as a partial
  WindowGroupLimit before its Exchange, so at most k rows per query and
  partition cross the shuffle;
- ring: per-round cost is a hash equi-join over the surviving queries
  only; the explode factor is a constant 9;
- ring: density-adaptive — dense regions retire in round 0; the doubling
  loop only carries sparse-region stragglers (the exact long-tail the
  reference's radius doubling exists for);
- grid keys are plain int64 column math — no UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import built


# Q x T pairs up to which one brute-force pass costs less CPU than the
# ring's fixed cost alone. Both costs measured on a 4-vCPU VM, local[4],
# process-tree CPU seconds, medians of warm calls, k = 3, cached targets:
# - _RING_FIXED_CPU_S: the ring on 10 queries x 20k targets, a one-round
#   request whose cost is nearly all its 13 fixed jobs: 2.54 s;
# - _BF_CPU_S_PER_PAIR: the slope of knn_bruteforce's CPU over Q x T from
#   2e5 to 4e7 pairs (0.61 s at 2e5, 3.0-4.3 s at 2e6, 18.9 s at 1e7,
#   40.5 s at 2e7, 84.0 s at 4e7; least squares): 2.1e-6 s per pair,
#   mostly the sort of every pair ahead of the partial WindowGroupLimit.
# Their ratio is about 1.2e6 pairs.
_RING_FIXED_CPU_S = 2.54
_BF_CPU_S_PER_PAIR = 2.1e-6
PAIR_BUDGET = _RING_FIXED_CPU_S / _BF_CPU_S_PER_PAIR


def _dist(qx: str, qy: str, tx: str, ty: str):
    """The query-target distance over the named columns, built once per
    name set."""
    def build():
        # plain multiplies (not pow) so the arithmetic is bit-identical to
        # the duckdb oracle's (qx-tx)*(qx-tx) expression
        dx, dy = F.col(qx) - F.col(tx), F.col(qy) - F.col(ty)
        return F.sqrt(dx * dx + dy * dy)
    return built(("knn.dist", qx, qy, tx, ty), build)


def _check_k(k: int) -> None:
    if k < 1:
        raise ValueError(f"kNN needs k >= 1, got k={k}")


def _row_count(df: DataFrame) -> int | None:
    """Row count from the optimized plan's statistics, or None when the
    plan does not know it. Runs no Spark job."""
    rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
    return int(str(rc.get())) if rc.isDefined() else None


def knn_bruteforce(queries: DataFrame, targets: DataFrame, k: int,
                   qid: str = "qid", tid: str = "tid",
                   qx: str = "qx", qy: str = "qy",
                   tx: str = "tx", ty: str = "ty") -> DataFrame:
    """Exact kNN in one pass over all Q x T pairs — the plan for small
    requests and the correctness oracle for the ring.

    No broadcast hint: the planner broadcasts whichever side is smaller
    (for a serve request, the handful of queries).

    Output: (qid, tid, dist, rank), rank 1..k by (dist, tid) — deterministic
    tie-break on tid so results are reproducible under shuffle.
    """
    _check_k(k)
    return (queries.crossJoin(targets)
            .select(qid, tid, _dist(qx, qy, tx, ty).alias("dist"))
            .select("*", _rank(qid, tid))
            .filter(f"`rank` <= {int(k)}"))


def _rank(qid: str, tid: str):
    """Each query's rank column, by (dist, tid)."""
    return built(("knn.rank", qid, tid), lambda: F.row_number().over(
        Window.partitionBy(qid).orderBy(F.col("dist").asc(), F.col(tid).asc())
    ).alias("rank"))


_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def knn_ring(queries: DataFrame, targets: DataFrame, k: int,
             cell_size: float, max_rounds: int = 12,
             qid: str = "qid", tid: str = "tid",
             qx: str = "qx", qy: str = "qy",
             tx: str = "tx", ty: str = "ty") -> DataFrame:
    """Exact kNN: one brute-force pass when the plan statistics show
    Q x T <= PAIR_BUDGET, else ring expansion (doubling cell size).

    The sizes come from the plans' row-count statistics, never from a
    Spark job; a side whose count is unknown (e.g. a parquet scan) takes
    the ring. Both plans return the same rows (module docstring).

    cell_size: the ring's starting grid pitch in coordinate units — pick
    roughly the expected kth-neighbor distance (too small only adds cheap
    early rounds).
    """
    _check_k(k)
    nq, nt = _row_count(queries), _row_count(targets)
    cols = dict(qid=qid, tid=tid, qx=qx, qy=qy, tx=tx, ty=ty)
    if nq is not None and nt is not None and nq * nt <= PAIR_BUDGET:
        return knn_bruteforce(queries, targets, k, **cols)
    return _knn_rings(queries, targets, k, cell_size, max_rounds, **cols)


def _knn_rings(queries: DataFrame, targets: DataFrame, k: int,
               cell_size: float, max_rounds: int = 12,
               qid: str = "qid", tid: str = "tid",
               qx: str = "qx", qy: str = "qy",
               tx: str = "tx", ty: str = "ty") -> DataFrame:
    """The ring-expansion loop (module docstring): exact for every query
    that retires before max_rounds; the last round keeps what it found."""
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _OFFSETS
    ])
    results = None
    remaining = queries.select(qid, qx, qy)
    for r in range(max_rounds):
        cs = cell_size * (2 ** r)
        # query side: explode to the 3x3 neighborhood of its cell
        q_r = (
            remaining
            .withColumn("_o", F.explode(offsets))
            .select(
                F.col(qid), F.col(qx), F.col(qy),
                (F.floor(F.col(qx) / cs) + F.col("_o.dx")).alias("_gx"),
                (F.floor(F.col(qy) / cs) + F.col("_o.dy")).alias("_gy"),
            )
        )
        t_r = targets.select(
            F.col(tid), F.col(tx), F.col(ty),
            F.floor(F.col(tx) / cs).alias("_gx"),
            F.floor(F.col(ty) / cs).alias("_gy"),
        )
        cand = (
            q_r.join(t_r, on=["_gx", "_gy"], how="inner")
            .withColumn("dist", _dist(qx, qy, tx, ty))
            # 3x3 blocks of adjacent exploded cells can duplicate (q,t) pairs
            .dropDuplicates([qid, tid])
        )
        ranked = cand.select("*", _rank(qid, tid)).filter(f"`rank` <= {int(k)}")
        stats = ranked.groupBy(qid).agg(
            F.count(F.lit(1)).alias("_n"), F.max("dist").alias("_kth")
        )
        last_round = r + 1 == max_rounds
        if last_round:
            done_ids = stats.select(qid)  # take what we have
        else:
            done_ids = stats.filter(
                (F.col("_n") >= k) & (F.col("_kth") <= F.lit(float(cs)))
            ).select(qid)
        finished = ranked.join(done_ids, on=qid, how="left_semi").select(
            qid, tid, "dist", "rank"
        )
        results = finished if results is None else results.unionByName(finished)
        remaining = remaining.join(done_ids, on=qid, how="left_anti")
        # eager localCheckpoint from round 3 on: truncate per-round
        # lineage (the plan otherwise grows multiplicatively with rounds
        # and kills analysis on sparse inputs needing many doublings —
        # see operators/graph.py). Dense inputs retire in 1-2 rounds and
        # skip the materialization cost entirely.
        if r >= 2:
            results = results.localCheckpoint()
            remaining = remaining.localCheckpoint()
        if len(remaining.take(1)) == 0:
            break
    return results
