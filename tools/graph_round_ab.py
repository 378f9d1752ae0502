"""Round-shape A/B for the iterative graph family (VERDICT r14 #3).

Times, isolated (cache_scope + memo reset + noop sink, min-of-N — the
bench's isolated-tier methodology), the registry plans for
wallet_taint_hops / wallet_peel_depth / wallet_wash_cycles against
hand-built variants of the per-round shape:

- taint_union:   drop the per-round anti-join; expand the FULL frontier
                 each hop and take MIN(hop) once at the end (2 shuffles
                 per round instead of 3; frontier no longer shrinks).
- taint_unroll2: two BFS hops per round via an edges ⋈ edges pair
                 (round-unroll — halves the round count, pays |E²|
                 pair materialization).
- peel_union:    per-round left-join + greatest → union + one MAX agg
                 (2 shuffles per round instead of 3).

Equivalence is asserted against the registry plan's collected output
before timing — a variant that changes results is disqualified, not
timed.

Usage: python tools/graph_round_ab.py [variant ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wallet_and_risky_features_data_pipeline_spark.caching import (
    cache_scope,
    persist_tracked,
)
from wallet_and_risky_features_data_pipeline_spark.plans import risk_features as R
from wallet_and_risky_features_data_pipeline_spark.plans.llm_ops import (
    reset_session_memos,
)
from wallet_and_risky_features_data_pipeline_spark.plans.registry import QUERIES
from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
    SENDER_EDGE,
    wallet_transactions,
)
from wallet_and_risky_features_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("GRAPH_AB_RUNS", "3"))


def _taint_edges_seeds(spark: SparkSession):
    wt = wallet_transactions(spark, SF_DIR, consumers=2)
    legs = wt.filter(SENDER_EDGE)
    edges = legs.select(
        F.col("wallet_address").alias("src"),
        F.col("interacted_with").alias("dst"),
    ).distinct()
    seeds = (
        wt.select("wallet_address")
        .distinct()
        .filter(F.col("wallet_address").cast("bigint") % R.TAINT_SEED_MOD == 0)
        .select("wallet_address", F.lit(0).cast("bigint").alias("hop"))
    )
    return edges, seeds


def taint_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No per-round anti-join: expand the full frontier each hop,
    MIN(hop) once at the end."""
    edges, seeds = _taint_edges_seeds(spark)
    edges = persist_tracked(edges)
    levels = [seeds]
    frontier = seeds.select("wallet_address")
    for h in range(1, R.TAINT_MAX_HOPS + 1):
        frontier = (
            edges.join(frontier.withColumnRenamed("wallet_address", "src"), "src")
            .select(F.col("dst").alias("wallet_address"))
            .distinct()
        )
        if h < R.TAINT_MAX_HOPS:
            frontier = persist_tracked(frontier)
        levels.append(
            frontier.select("wallet_address", F.lit(h).cast("bigint").alias("hop"))
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return (
        out.groupBy("wallet_address")
        .agg(F.min("hop").alias("taint_hops"))
    )


def taint_unroll2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two hops per round: one edges ⋈ edges pair table covers hops
    (1,2); hop 3 is a single extra expansion."""
    edges, seeds = _taint_edges_seeds(spark)
    edges = persist_tracked(edges)
    e2 = (
        edges.alias("x")
        .join(edges.alias("y"), F.col("x.dst") == F.col("y.src"))
        .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
        .distinct()
    )
    f0 = seeds.select(F.col("wallet_address").alias("src"))
    hop1 = (
        edges.join(f0, "src").select(F.col("dst").alias("wallet_address")).distinct()
    )
    hop2 = e2.join(f0, "src").select(F.col("dst").alias("wallet_address")).distinct()
    hop2 = persist_tracked(hop2)
    hop3 = (
        edges.join(hop2.withColumnRenamed("wallet_address", "src"), "src")
        .select(F.col("dst").alias("wallet_address"))
        .distinct()
    )
    out = seeds
    for h, lv in ((1, hop1), (2, hop2), (3, hop3)):
        out = out.unionByName(
            lv.select("wallet_address", F.lit(h).cast("bigint").alias("hop"))
        )
    return out.groupBy("wallet_address").agg(F.min("hop").alias("taint_hops"))


def peel_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round union + MAX agg instead of groupBy + left join +
    greatest — same fixpoint arithmetic, one fewer shuffle per round."""
    legs, in_busy, out_busy = R._flow_legs_and_fences(spark, sf_dir)
    hop_in = (
        legs.join(
            in_busy,
            (F.col("dst") == F.col("ib_b")) & (F.col("day") == F.col("ib_day")),
        )
        .filter(F.col("n_in") <= R.FLOW_MAX_DAILY_LEGS)
        .select(
            F.col("event_id").alias("e_id"),
            F.col("dst").alias("mid"),
            F.col("us").alias("us_in"),
            F.col("cents").alias("c_in"),
            F.explode(F.array(F.col("day"), F.date_add(F.col("day"), 1))).alias(
                "match_day"
            ),
        )
    )
    hop_out = (
        legs.join(
            out_busy,
            (F.col("src") == F.col("ob_b")) & (F.col("day") == F.col("ob_day")),
        )
        .filter(F.col("n_out") <= R.FLOW_MAX_DAILY_LEGS)
        .select(
            F.col("event_id").alias("f_id"),
            F.col("src").alias("mid2"),
            F.col("us").alias("us_out"),
            F.col("cents").alias("c_out"),
            F.col("day").alias("out_day"),
        )
    )
    P = persist_tracked(
        hop_in.join(
            hop_out,
            (F.col("mid") == F.col("mid2")) & (F.col("match_day") == F.col("out_day")),
        )
        .filter(
            (F.col("us_out") > F.col("us_in"))
            & (F.col("us_out") - F.col("us_in") <= F.lit(R.FLOW_WINDOW_US))
            & (F.lit(4) * F.col("c_in") <= F.lit(5) * F.col("c_out"))
            & (F.col("c_out") <= F.col("c_in"))
        )
        .select("e_id", "f_id")
    )
    depth = legs.select(F.col("event_id").alias("e_id")).withColumn(
        "d", F.lit(1).cast("bigint")
    )
    for i in range(R.PEEL_MAX_DEPTH - 1):
        contrib = P.join(
            depth.select(F.col("e_id").alias("f_id"), F.col("d").alias("fd")),
            "f_id",
        ).select("e_id", (F.col("fd") + F.lit(1)).alias("d"))
        depth = (
            depth.unionByName(contrib).groupBy("e_id").agg(F.max("d").alias("d"))
        )
        if i < R.PEEL_MAX_DEPTH - 2:
            depth = persist_tracked(depth)
    return (
        legs.select(F.col("event_id").alias("e_id"), "src")
        .join(depth, "e_id")
        .groupBy(F.col("src").alias("wallet_address"))
        .agg(
            F.max("d").cast("bigint").alias("max_peel_depth"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_peel_edges"),
        )
        .select(
            "wallet_address",
            "max_peel_depth",
            "n_peel_edges",
            (F.col("max_peel_depth") >= 3).alias("is_peeling"),
        )
    )


def taint_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 (VERDICT r15 #2): the registry taint shape with ZERO
    intermediate persists — the whole 3-hop loop composed into one
    plan/one job, round h's frontier deduped across its two consumers
    by ReusedExchange instead of an InMemoryRelation write."""
    edges, seeds = _taint_edges_seeds(spark)
    reached = seeds
    frontier = seeds.select("wallet_address")
    for h in range(1, R.TAINT_MAX_HOPS + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("wallet_address", "src"), "src")
            .select(F.col("dst").alias("wallet_address"))
            .distinct()
        )
        new = nxt.join(reached, "wallet_address", "left_anti").select(
            "wallet_address", F.lit(h).cast("bigint").alias("hop")
        )
        reached = reached.unionByName(new)
        frontier = new.select("wallet_address")
    return reached.withColumnRenamed("hop", "taint_hops")


def peel_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16: the registry peel shape (anti-join fences) with ZERO
    intermediate depth persists — all PEEL_MAX_DEPTH−1 rounds composed
    into one plan, each round's depth table deduped across its two
    consumers (successor probe + union leg) by ReusedExchange."""
    legs, in_busy, out_busy = R._flow_legs_and_fences(spark, sf_dir)
    bcast = R._flow_fences_broadcastable(sf_dir)
    hop_in = R._fence_anti(
        legs, in_busy, "dst", "ib_b", "ib_day", "n_in", bcast
    ).select(
        F.col("event_id").alias("e_id"),
        F.col("dst").alias("mid"),
        F.col("us").alias("us_in"),
        F.col("cents").alias("c_in"),
        F.explode(F.array(F.col("day"), F.date_add(F.col("day"), 1))).alias(
            "match_day"
        ),
    )
    hop_out = R._fence_anti(
        legs, out_busy, "src", "ob_b", "ob_day", "n_out", bcast
    ).select(
        F.col("event_id").alias("f_id"),
        F.col("src").alias("mid2"),
        F.col("us").alias("us_out"),
        F.col("cents").alias("c_out"),
        F.col("day").alias("out_day"),
    )
    P = persist_tracked(
        hop_in.join(
            hop_out,
            (F.col("mid") == F.col("mid2")) & (F.col("match_day") == F.col("out_day")),
        )
        .filter(
            (F.col("us_out") > F.col("us_in"))
            & (F.col("us_out") - F.col("us_in") <= F.lit(R.FLOW_WINDOW_US))
            & (F.lit(4) * F.col("c_in") <= F.lit(5) * F.col("c_out"))
            & (F.col("c_out") <= F.col("c_in"))
        )
        .select("e_id", "f_id")
    )
    depth = legs.select(F.col("event_id").alias("e_id")).withColumn(
        "d", F.lit(1).cast("bigint")
    )
    for _ in range(R.PEEL_MAX_DEPTH - 1):
        contrib = P.join(
            depth.select(F.col("e_id").alias("f_id"), F.col("d").alias("fd")),
            "f_id",
        ).select("e_id", (F.col("fd") + F.lit(1)).alias("d"))
        depth = (
            depth.unionByName(contrib).groupBy("e_id").agg(F.max("d").alias("d"))
        )
    return (
        legs.select(F.col("event_id").alias("e_id"), "src")
        .join(depth, "e_id")
        .groupBy(F.col("src").alias("wallet_address"))
        .agg(
            F.max("d").cast("bigint").alias("max_peel_depth"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_peel_edges"),
        )
        .select(
            "wallet_address",
            "max_peel_depth",
            "n_peel_edges",
            (F.col("max_peel_depth") >= 3).alias("is_peeling"),
        )
    )


def lpa_dpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 (VERDICT r15 #6): LPA with (a) the leg build LAZY (wt is
    consumed exactly once here — the r15 §4 single-consumer rule,
    missed for the LPA chain) and (b) the symmetric edge closure
    persisted ALREADY hash-partitioned on the per-round join key ``d``
    — every round's sym⋈labels join then reads the cache's
    partitioning instead of re-exchanging |2E| rows per round."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        _lpa_rounds,
    )
    wt = wallet_transactions(spark, SF_DIR)
    legs = wt.filter(SENDER_EDGE).select(
        F.col("wallet_address").cast("bigint").alias("u"),
        F.col("interacted_with").cast("bigint").alias("v"),
    )
    und = (
        legs.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = persist_tracked(
        und.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionByName(und.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .repartition("d")
    )
    labels = persist_tracked(_lpa_rounds(sym, persist_rounds=False)[-1])
    sizes = labels.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    return labels.join(sizes, "lbl").select(
        F.col("node").cast("string").alias("wallet_address"),
        F.col("lbl").cast("bigint").alias("community"),
        "community_size",
    )


def pagerank_srcpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16: PageRank with ``edges_deg`` persisted hash-partitioned on
    ``src`` — rounds 2..N's rank join reads the cached partitioning
    instead of re-exchanging |E| rows per round."""
    from wallet_and_risky_features_data_pipeline_spark.plans.risk_features import (
        PR_SCALE,
        PR_ITERS,
    )
    wt = wallet_transactions(spark, SF_DIR)
    legs = wt.filter(SENDER_EDGE)
    edges = persist_tracked(
        legs.select(
            F.col("wallet_address").alias("src"),
            F.col("interacted_with").alias("dst"),
        ).distinct()
    )
    nodes = persist_tracked(
        edges.select(F.col("src").alias("w"))
        .union(edges.select(F.col("dst").alias("w")))
        .distinct()
    )
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    edges_deg = persist_tracked(edges.join(deg, "src").repartition("src"))
    base = F.expr(f"(15 * (CAST({PR_SCALE} AS BIGINT) DIV n)) DIV 100")
    no_in = persist_tracked(
        nodes.join(edges_deg.select(F.col("dst").alias("w")), "w", "left_anti")
        .crossJoin(F.broadcast(n))
        .select("w", "n", base.alias("r"))
    )

    def next_ranks(inc: DataFrame) -> DataFrame:
        return (
            inc.crossJoin(F.broadcast(n))
            .select("w", "n", (base + F.expr("(85 * inc) DIV 100")).alias("r"))
            .unionByName(no_in)
        )

    ranks = next_ranks(
        edges_deg.crossJoin(F.broadcast(n))
        .select(
            F.col("dst").alias("w"),
            F.expr(f"(CAST({PR_SCALE} AS BIGINT) DIV n) DIV out_deg").alias("c"),
        )
        .groupBy("w")
        .agg(F.sum("c").alias("inc"))
    )
    for _ in range(PR_ITERS - 1):
        ranks = next_ranks(
            edges_deg.join(ranks.select(F.col("w").alias("src"), "r"), "src")
            .select(F.col("dst").alias("w"), F.expr("r DIV out_deg").alias("c"))
            .groupBy("w")
            .agg(F.sum("c").alias("inc"))
        )
    return ranks.select(
        F.col("w").alias("wallet_address"),
        F.col("r").alias("rank_units"),
        (F.col("r") / F.lit(float(PR_SCALE))).alias("pagerank"),
    )


def taint_composed_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``taint_composed`` with the leg build LAZY instead of through
    the eager wt memo — wt feeds two derived frames here (edges +
    seeds), so this arm measures whether two lazy explosion passes
    beat one cache write + two cache reads."""
    wt = wallet_transactions(spark, SF_DIR)
    legs = wt.filter(SENDER_EDGE)
    edges = legs.select(
        F.col("wallet_address").alias("src"),
        F.col("interacted_with").alias("dst"),
    ).distinct()
    seeds = (
        wt.select("wallet_address")
        .distinct()
        .filter(F.col("wallet_address").cast("bigint") % R.TAINT_SEED_MOD == 0)
        .select("wallet_address", F.lit(0).cast("bigint").alias("hop"))
    )
    reached = seeds
    frontier = seeds.select("wallet_address")
    for h in range(1, R.TAINT_MAX_HOPS + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("wallet_address", "src"), "src")
            .select(F.col("dst").alias("wallet_address"))
            .distinct()
        )
        new = nxt.join(reached, "wallet_address", "left_anti").select(
            "wallet_address", F.lit(h).cast("bigint").alias("hop")
        )
        reached = reached.unionByName(new)
        frontier = new.select("wallet_address")
    return reached.withColumnRenamed("hop", "taint_hops")


def motifs_oldfence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r15 flow-motif shape — occupancy fences as INNER joins of
    the full per-(wallet, day) count tables onto the legs — kept here
    as the interleaved 'before' arm for the r16 anti-join fence
    rewrite (the registry plan is the 'after')."""
    legs, in_busy, out_busy = R._flow_legs_and_fences(spark, sf_dir)
    hop_in = (
        legs.join(
            in_busy,
            (F.col("dst") == F.col("ib_b")) & (F.col("day") == F.col("ib_day")),
        )
        .filter(F.col("n_in") <= R.FLOW_MAX_DAILY_LEGS)
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("mid"),
            F.col("us").alias("us_in"),
            F.explode(F.array(F.col("day"), F.date_add(F.col("day"), 1))).alias(
                "match_day"
            ),
        )
    )
    hop_out = (
        legs.join(
            out_busy,
            (F.col("src") == F.col("ob_b")) & (F.col("day") == F.col("ob_day")),
        )
        .filter(F.col("n_out") <= R.FLOW_MAX_DAILY_LEGS)
        .select(
            F.col("src").alias("mid2"),
            F.col("dst").alias("c"),
            F.col("us").alias("us_out"),
            F.col("day").alias("out_day"),
        )
    )
    paths = (
        hop_in.join(
            hop_out,
            (F.col("mid") == F.col("mid2")) & (F.col("match_day") == F.col("out_day")),
        )
        .filter(
            (F.col("us_out") > F.col("us_in"))
            & (F.col("us_out") - F.col("us_in") <= F.lit(R.FLOW_WINDOW_US))
            & (F.col("c") != F.col("a"))
        )
        .select("a", "mid", "c", (F.col("us_out") - F.col("us_in")).alias("gap_us"))
    )
    return R._flow_rollup(R._flow_pair_grain(paths))


def taint_lazy_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy legs + the registry's per-round persists — isolates how
    much of taint_composed_lazy's win is the lazy leg build alone."""
    wt = wallet_transactions(spark, SF_DIR)
    legs = wt.filter(SENDER_EDGE)
    edges = legs.select(
        F.col("wallet_address").alias("src"),
        F.col("interacted_with").alias("dst"),
    ).distinct()
    seeds = (
        wt.select("wallet_address")
        .distinct()
        .filter(F.col("wallet_address").cast("bigint") % R.TAINT_SEED_MOD == 0)
        .select("wallet_address", F.lit(0).cast("bigint").alias("hop"))
    )
    reached = seeds
    frontier = seeds.select("wallet_address")
    for h in range(1, R.TAINT_MAX_HOPS + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("wallet_address", "src"), "src")
            .select(F.col("dst").alias("wallet_address"))
            .distinct()
        )
        new = nxt.join(reached, "wallet_address", "left_anti").select(
            "wallet_address", F.lit(h).cast("bigint").alias("hop")
        )
        if h < R.TAINT_MAX_HOPS:
            new = persist_tracked(new)
        reached = reached.unionByName(new)
        frontier = new.select("wallet_address")
    return reached.withColumnRenamed("hop", "taint_hops")


def taint_lazy_edges_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy legs + PERSISTED distinct edge set + composed rounds (no
    per-round persists): bounds recomputation at any scale — the
    explosion streams twice (edges + seeds), the rounds read the
    cached |E| table, and no round pays a cache write."""
    wt = wallet_transactions(spark, SF_DIR)
    legs = wt.filter(SENDER_EDGE)
    edges = persist_tracked(
        legs.select(
            F.col("wallet_address").alias("src"),
            F.col("interacted_with").alias("dst"),
        ).distinct()
    )
    seeds = (
        wt.select("wallet_address")
        .distinct()
        .filter(F.col("wallet_address").cast("bigint") % R.TAINT_SEED_MOD == 0)
        .select("wallet_address", F.lit(0).cast("bigint").alias("hop"))
    )
    reached = seeds
    frontier = seeds.select("wallet_address")
    for h in range(1, R.TAINT_MAX_HOPS + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("wallet_address", "src"), "src")
            .select(F.col("dst").alias("wallet_address"))
            .distinct()
        )
        new = nxt.join(reached, "wallet_address", "left_anti").select(
            "wallet_address", F.lit(h).cast("bigint").alias("hop")
        )
        reached = reached.unionByName(new)
        frontier = new.select("wallet_address")
    return reached.withColumnRenamed("hop", "taint_hops")


def peel_mid_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed peel with ONE midpoint depth persist (after round 2 of
    3) — bounds subtree recomputation to <= 2x of a cached read while
    paying one cache write instead of two."""
    legs, in_busy, out_busy = R._flow_legs_and_fences(spark, sf_dir)
    bcast = R._flow_fences_broadcastable(sf_dir)
    hop_in = R._fence_anti(
        legs, in_busy, "dst", "ib_b", "ib_day", "n_in", bcast
    ).select(
        F.col("event_id").alias("e_id"),
        F.col("dst").alias("mid"),
        F.col("us").alias("us_in"),
        F.col("cents").alias("c_in"),
        F.explode(F.array(F.col("day"), F.date_add(F.col("day"), 1))).alias(
            "match_day"
        ),
    )
    hop_out = R._fence_anti(
        legs, out_busy, "src", "ob_b", "ob_day", "n_out", bcast
    ).select(
        F.col("event_id").alias("f_id"),
        F.col("src").alias("mid2"),
        F.col("us").alias("us_out"),
        F.col("cents").alias("c_out"),
        F.col("day").alias("out_day"),
    )
    P = persist_tracked(
        hop_in.join(
            hop_out,
            (F.col("mid") == F.col("mid2")) & (F.col("match_day") == F.col("out_day")),
        )
        .filter(
            (F.col("us_out") > F.col("us_in"))
            & (F.col("us_out") - F.col("us_in") <= F.lit(R.FLOW_WINDOW_US))
            & (F.lit(4) * F.col("c_in") <= F.lit(5) * F.col("c_out"))
            & (F.col("c_out") <= F.col("c_in"))
        )
        .select("e_id", "f_id")
    )
    depth = legs.select(F.col("event_id").alias("e_id")).withColumn(
        "d", F.lit(1).cast("bigint")
    )
    for i in range(R.PEEL_MAX_DEPTH - 1):
        contrib = P.join(
            depth.select(F.col("e_id").alias("f_id"), F.col("d").alias("fd")),
            "f_id",
        ).select("e_id", (F.col("fd") + F.lit(1)).alias("d"))
        depth = (
            depth.unionByName(contrib).groupBy("e_id").agg(F.max("d").alias("d"))
        )
        if i == (R.PEEL_MAX_DEPTH - 2) // 2:
            depth = persist_tracked(depth)
    return (
        legs.select(F.col("event_id").alias("e_id"), "src")
        .join(depth, "e_id")
        .groupBy(F.col("src").alias("wallet_address"))
        .agg(
            F.max("d").cast("bigint").alias("max_peel_depth"),
            F.sum(F.when(F.col("d") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_peel_edges"),
        )
        .select(
            "wallet_address",
            "max_peel_depth",
            "n_peel_edges",
            (F.col("max_peel_depth") >= 3).alias("is_peeling"),
        )
    )


def motifs_narrowcache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy wt + persist the PROJECTED 6-column leg frame instead of
    reading the full-width explosion memo — the motif chain's four leg
    consumers (two fence aggs, two hop streams) then read a cache that
    carries only what they use."""
    wt = wallet_transactions(spark, SF_DIR)
    legs = persist_tracked(
        wt.filter(
            F.expr(SENDER_EDGE)
            & (F.col("current_value") > 0)
        ).select(
            "event_id",
            F.col("wallet_address").alias("src"),
            F.col("interacted_with").alias("dst"),
            F.unix_micros("ts").alias("us"),
            F.to_date("ts").alias("day"),
            F.expr("CAST(round(current_value * 100) AS BIGINT)").alias("cents"),
        )
    )
    in_busy = legs.groupBy(
        F.col("dst").alias("ib_b"), F.col("day").alias("ib_day")
    ).agg(F.count(F.lit(1)).alias("n_in"))
    out_busy = legs.groupBy(
        F.col("src").alias("ob_b"), F.col("day").alias("ob_day")
    ).agg(F.count(F.lit(1)).alias("n_out"))
    pairs = R._flow_pair_grain(
        R._flow_paths(
            legs, legs, in_busy, out_busy,
            broadcast_fences=R._flow_fences_broadcastable(sf_dir),
        )
    )
    return R._flow_rollup(pairs)


def runbal_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_running_balance with a lazy wt build and the PROJECTED
    frame persisted AFTER the by-wallet repartition — the adaptive
    router's three consumers (hot-key agg + both branches) read a
    narrow wallet-partitioned cache, so the windows and the agg all
    reuse one exchange worth of layout."""
    from wallet_and_risky_features_data_pipeline_spark.operators.skew import (
        adaptive_running_sum,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.wallet_model import (
        ORDER_COLS,
        by_wallet,
    )
    from wallet_and_risky_features_data_pipeline_spark.plans.windows_plans import (
        HOT_KEY_THRESHOLD,
        _KEY,
    )

    wt = wallet_transactions(spark, SF_DIR).select(
        "event_id", "ts", "priority", "transaction_index", "role_rank",
        "wallet_address", "contract_address", "address_role", "signed_value",
    )
    wt = persist_tracked(by_wallet(wt))
    df = adaptive_running_sum(
        wt,
        F.col("signed_value"),
        list(_KEY),
        list(ORDER_COLS),
        out="balance",
        chunk_expr=F.date_trunc("day", F.col("ts")),
        threshold=HOT_KEY_THRESHOLD,
    )
    return df.select(
        "event_id",
        "wallet_address",
        "contract_address",
        "address_role",
        F.col("signed_value").cast("double").alias("delta"),
        F.col("balance").cast("double").alias("running_balance"),
    )


VARIANTS = {
    "taint_union": ("wallet_taint_hops", taint_union),
    "motifs_oldfence": ("wallet_flow_motifs", motifs_oldfence),
    "motifs_narrowcache": ("wallet_flow_motifs", motifs_narrowcache),
    "runbal_narrow": ("window_running_balance", runbal_narrow),
    "taint_unroll2": ("wallet_taint_hops", taint_unroll2),
    "peel_union": ("wallet_peel_depth", peel_union),
    "taint_composed": ("wallet_taint_hops", taint_composed),
    "taint_composed_lazy": ("wallet_taint_hops", taint_composed_lazy),
    "taint_lazy_persist": ("wallet_taint_hops", taint_lazy_persist),
    "peel_composed": ("wallet_peel_depth", peel_composed),
    "lpa_dpart": ("wallet_label_propagation", lpa_dpart),
    "pagerank_srcpart": ("wallet_pagerank", pagerank_srcpart),
    "taint_lazy_edges_persist": ("wallet_taint_hops", taint_lazy_edges_persist),
    "peel_mid_persist": ("wallet_peel_depth", peel_mid_persist),
}


def _timed_once(spark, fn) -> float:
    reset_session_memos(spark)
    t0 = time.perf_counter()
    with cache_scope():
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    import statistics

    wanted = sys.argv[1:] or list(VARIANTS)
    spark = get_spark("wrf-graph-ab")
    spark.sparkContext.setLogLevel("ERROR")
    for v in wanted:
        base_name, var_fn = VARIANTS[v]
        base_fn = QUERIES[base_name]
        # equivalence gate before any timing
        reset_session_memos(spark)
        with cache_scope():
            exp = sorted(tuple(r) for r in base_fn(spark, SF_DIR).collect())
        with cache_scope():
            got = sorted(tuple(r) for r in var_fn(spark, SF_DIR).collect())
        if exp != got:
            print(f"{v}: NOT EQUIVALENT ({len(exp)} vs {len(got)} rows) — skipped")
            continue
        # INTERLEAVED timing (r16: the box drifts; base-then-variant
        # blocks confound drift with the effect): alternate which side
        # runs first each pass, per-pass ratio, median ratio verdict.
        base_runs, var_runs, ratios = [], [], []
        for p in range(RUNS):
            order = (
                (("base", base_fn), ("var", var_fn))
                if p % 2 == 0
                else (("var", var_fn), ("base", base_fn))
            )
            pass_t = {}
            for tag, fn in order:
                pass_t[tag] = _timed_once(spark, fn)
            base_runs.append(pass_t["base"])
            var_runs.append(pass_t["var"])
            ratios.append(pass_t["var"] / pass_t["base"])
        print(
            f"{v}: base({base_name}) median={statistics.median(base_runs):.3f}s "
            f"variant median={statistics.median(var_runs):.3f}s "
            f"median_ratio={statistics.median(ratios):.3f} "
            f"(base_runs={[round(t, 3) for t in base_runs]}, "
            f"var_runs={[round(t, 3) for t in var_runs]})"
        )


if __name__ == "__main__":
    main()
