"""Quantified error bands for the rows-only registry queries.

The four queries without a DuckDB oracle (three sketch twins + the
inherently iterative BPE trainer) are pytest-toleranced, but the
artifact trail (`CORRECTNESS_local_full.json`) only showed their row
counts — a reader could not see HOW approximate they are (r7 VERDICT
item #6). Each band function re-derives the exact answer (via the
query's own oracle-green exact twin) and returns per-metric relative
errors, so the sweep artifact carries quantified error for every
rows-only entry.

Keys of ``APPROX_BANDS`` must stay equal to the registry's
no-oracle set; ``tests/test_approx_bands.py`` pins that.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TOLERANCE = 0.05  # matches tests/test_sketch_tolerance.py


def _rel(approx: float, exact: float) -> float:
    return round(abs(approx - exact) / max(abs(exact), 1e-12), 5)


def _finish(metrics: dict[str, float]) -> dict:
    worst = max(metrics.values()) if metrics else 0.0
    return {
        "metrics": metrics,
        "max_rel_err": worst,
        "tolerance": TOLERANCE,
        "within_tolerance": worst <= TOLERANCE,
    }


def _band_profile(spark: SparkSession, sf_dir: str) -> dict:
    """HLL++ n_distinct per column vs the exact COUNT(DISTINCT) twin."""
    from calorista_spark.queries import QUERIES

    exact = {
        r.column_name: r.n_distinct
        for r in QUERIES["orders_column_profile"](spark, sf_dir).collect()
    }
    approx = {
        r.column_name: r.n_distinct
        for r in QUERIES["orders_column_profile_approx"](
            spark, sf_dir
        ).collect()
    }
    return _finish(
        {
            f"n_distinct[{c}]": _rel(approx[c], exact[c])
            for c in sorted(exact)
        }
    )


def _band_stats(spark: SparkSession, sf_dir: str) -> dict:
    """GK median + HLL distinct-orders vs exact, per returnflag."""
    from calorista_spark.catalog import read_table
    from calorista_spark.queries import QUERIES

    exact_med = {
        r.l_returnflag: r.price_median
        for r in QUERIES["stats_by_returnflag"](spark, sf_dir).collect()
    }
    li = read_table(spark, sf_dir, "lineitem")
    exact_orders = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    metrics: dict[str, float] = {}
    for r in QUERIES["approx_stats_by_returnflag"](spark, sf_dir).collect():
        metrics[f"median[{r.l_returnflag}]"] = _rel(
            r.approx_median, exact_med[r.l_returnflag]
        )
        metrics[f"orders[{r.l_returnflag}]"] = _rel(
            r.approx_orders, exact_orders[r.l_returnflag]
        )
    return _finish(metrics)


def _band_sketch_rollup(spark: SparkSession, sf_dir: str) -> dict:
    """Per-day HLL estimates vs exact distincts; merged-vs-direct
    union as a relative error. The union is estimate-IDENTICAL only
    while sketches stay in sparse mode — at sf0.1 cardinalities the
    DataSketches union path (internal HLL_8, then target conversion)
    legitimately lands ~0.7% off the directly-built sketch, itself
    within the sketch's error of the true count. The first version of
    this band encoded equality as a 0/1 indicator and the sf0.1 sweep
    caught the overclaim — kept here as a relative metric so a real
    wiring bug (wrong column, wrong lgK) still trips the 5% gate."""
    from calorista_spark.catalog import read_table
    from calorista_spark.queries import QUERIES

    rows = {
        r.day: r.est_users
        for r in QUERIES["events_distinct_users_sketch_rollup"](
            spark, sf_dir
        ).collect()
    }
    ev = read_table(spark, sf_dir, "events")
    exact_days = {
        str(r.day): r.n
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact_total = ev.select("user_id").distinct().count()
    metrics = {
        f"day[{d}]": _rel(rows[d], exact_days[d]) for d in sorted(exact_days)
    }
    metrics["total_vs_exact"] = _rel(rows["TOTAL(merged)"], exact_total)
    metrics["merged_vs_direct"] = _rel(
        rows["TOTAL(merged)"], rows["TOTAL(direct)"]
    )
    return _finish(metrics)


def _band_bpe_merges(spark: SparkSession, sf_dir: str) -> dict:
    """Not a sketch — iterative training. Quantify by agreement with
    the independent all-Spark merge loop: fraction of merge ranks
    where (left, right, pair_count) are identical (pinned 1.0; also
    pinned vs a pure-python reference in tests/test_bpe.py)."""
    from calorista_spark.catalog import read_table
    from calorista_spark.operators.bpe import (
        learn_bpe_merges,
        learn_bpe_merges_driver,
    )

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    driver_merges, _ = learn_bpe_merges_driver(docs, 8, max_words=1_000_000)
    spark_merges, _ = learn_bpe_merges(docs, 8)
    n = max(len(driver_merges), len(spark_merges), 1)
    agree = sum(
        1 for a, b in zip(driver_merges, spark_merges) if a == b
    )
    return _finish({"merge_sequence_disagreement": _rel(agree, n)})




def _band_theta_overlap(spark: SparkSession, sf_dir: str) -> dict:
    """Theta intersection/union estimates vs the exact self-join twin
    (distinct (type, user) pairs joined on user)."""
    from calorista_spark.catalog import read_table
    from calorista_spark.queries import QUERIES

    ev = read_table(spark, sf_dir, "events")
    d = (
        ev.select("event_type", "user_id")
        .where("user_id IS NOT NULL")
        .distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    both = {
        (r.ta, r.tb): r.n
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    per_type = {
        r.event_type: r.n
        for r in d.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    metrics: dict[str, float] = {}
    for r in QUERIES["events_type_overlap_theta"](spark, sf_dir).collect():
        eb = both.get((r.type_a, r.type_b), 0)
        ee = per_type[r.type_a] + per_type[r.type_b] - eb
        metrics[f"both[{r.type_a}|{r.type_b}]"] = _rel(r.est_both, eb)
        metrics[f"either[{r.type_a}|{r.type_b}]"] = _rel(r.est_either, ee)
    return _finish(metrics)


def _band_kll_quantiles(spark: SparkSession, sf_dir: str) -> dict:
    """KLL quantile estimates judged by their EXACT RANK in the true
    distribution of their scope (day or whole table): KLL guarantees
    ~1.7% rank error at the default k, so |rank(est) − q| is the
    statistically meaningful metric — a value-space tolerance would be
    distribution-dependent. merged-vs-direct rides along as relative
    rank difference (estimate-close, not bit-identical — the HLL
    lesson)."""
    from calorista_spark.catalog import local_table, read_table
    from calorista_spark.queries import QUERIES

    ev = read_table(spark, sf_dir, "events")
    vals = ev.select(
        F.to_date("ts").cast("string").alias("day"),
        F.col("value").cast("double").alias("v"),
    ).where("v IS NOT NULL")
    rows = QUERIES["events_value_quantiles_kll"](spark, sf_dir).collect()
    day_rows = [r for r in rows if not r.day.startswith("TOTAL")]
    est = local_table(
        spark,
        [(r.day, float(r.p50), float(r.p90)) for r in day_rows],
        "day string, p50 double, p90 double",
    )
    ranks = {
        r.day: (r.r50, r.r90)
        for r in vals.join(F.broadcast(est), "day")
        .groupBy("day")
        .agg(
            F.avg((F.col("v") <= F.col("p50")).cast("double")).alias("r50"),
            F.avg((F.col("v") <= F.col("p90")).cast("double")).alias("r90"),
        )
        .collect()
    }
    metrics: dict[str, float] = {}
    for day, (r50, r90) in sorted(ranks.items()):
        metrics[f"rank_err_p50[{day}]"] = round(abs(r50 - 0.5), 5)
        metrics[f"rank_err_p90[{day}]"] = round(abs(r90 - 0.9), 5)
    totals = {r.day: r for r in rows if r.day.startswith("TOTAL")}
    if totals:
        tm = totals["TOTAL(merged)"]
        n = vals.count()
        r50 = vals.where(F.col("v") <= float(tm.p50)).count() / n
        r90 = vals.where(F.col("v") <= float(tm.p90)).count() / n
        metrics["rank_err_p50[TOTAL]"] = round(abs(r50 - 0.5), 5)
        metrics["rank_err_p90[TOTAL]"] = round(abs(r90 - 0.9), 5)
        td = totals["TOTAL(direct)"]
        metrics["merged_vs_direct_p50"] = _rel(tm.p50, td.p50)
    return _finish(metrics)


def _band_kmeans_recall(spark: SparkSession, sf_dir: str) -> dict:
    """The label-free k-means index (VERDICT r13 #2) is iterative →
    no SQL oracle; its band pins the part that is NOT approximate:
    probing ALL buckets is brute force, so recall_full must be
    EXACTLY 1.0 per query (any assignment/similarity/pruning wiring
    bug breaks it), and the index must hold every eligible corpus
    vector exactly once. The honest nprobe=2 recall is reported in
    the query output itself, not gated here."""
    from calorista_spark.catalog import read_table
    from calorista_spark.queries import QUERIES
    from calorista_spark.queries.vector_index_pq import (
        _NONULL_SPARK,
        _built_kmeans_index,
    )

    rows = QUERIES["embedding_ann_kmeans_recall"](spark, sf_dir).collect()
    metrics = {
        f"full_probe_recall[{r.q_id}]": _rel(r.recall_full, 1.0)
        for r in rows
    }
    idx = _built_kmeans_index(spark, sf_dir)
    indexed = idx.assignments_store.read(spark).count()
    eligible = (
        read_table(spark, sf_dir, "embeddings")
        .where(_NONULL_SPARK)
        .count()
    )
    metrics["index_coverage"] = _rel(indexed, eligible)
    return _finish(metrics)


APPROX_BANDS: dict[str, Callable[[SparkSession, str], dict]] = {
    "embedding_ann_kmeans_recall": _band_kmeans_recall,
    "orders_column_profile_approx": _band_profile,
    "approx_stats_by_returnflag": _band_stats,
    "events_distinct_users_sketch_rollup": _band_sketch_rollup,
    "corpus_bpe_merges": _band_bpe_merges,
    "events_type_overlap_theta": _band_theta_overlap,
    "events_value_quantiles_kll": _band_kll_quantiles,
}
