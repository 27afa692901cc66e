"""The composed end-to-end pretraining job (queries/corpus_e2e.py, r9).

Covers the three r8-verdict acceptance criteria beyond the oracle rows:
the observe-metrics funnel matches the data funnel, each shared stage
materializes exactly once (lineage-truncated downstream plans — no
parquet rescan anywhere past the build), and the output manifest is
internally consistent with the funnel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from calorista_spark.cache import release_caches
from calorista_spark.queries import QUERIES
from calorista_spark.queries.corpus_e2e import (
    build_e2e_stages,
    run_corpus_e2e,
)


def test_funnel_monotone_and_stage_semantics(spark, sf_dir):
    rows = {r.stage: r for r in QUERIES["corpus_e2e_funnel"](spark, sf_dir).collect()}
    release_caches(spark)
    assert set(rows) == {
        "raw",
        "quality",
        "exact_dedup",
        "neardup_dedup",
        "decontaminated",
        "sampled",
        "packed",
        "bpe_tokens",
    }
    # doc counts can only shrink through the doc stages
    order = ["raw", "quality", "exact_dedup", "neardup_dedup", "decontaminated", "sampled"]
    counts = [rows[s].n_units for s in order]
    assert counts == sorted(counts, reverse=True)
    assert rows["raw"].n_units > 0 and rows["sampled"].n_units > 0
    # packing preserves the sampled token mass; bins are fewer than docs
    assert rows["packed"].n_tokens == rows["sampled"].n_tokens
    assert 0 < rows["packed"].n_units <= rows["sampled"].n_units
    # BPE tokenizes every sampled word into >= 1 symbol
    assert rows["bpe_tokens"].n_tokens >= rows["sampled"].n_tokens > 0


def test_observe_metrics_equal_data_funnel(spark, sf_dir):
    """The production entry point's piggybacked df.observe counters
    must equal the oracle-checked data funnel — the zero-extra-action
    metrics are trustworthy."""
    shards, metrics = run_corpus_e2e(spark, sf_dir)
    funnel = {
        r.stage: r for r in QUERIES["corpus_e2e_funnel"](spark, sf_dir).collect()
    }
    release_caches(spark)
    ob = metrics["funnel"]
    assert ob["n_raw"] == funnel["raw"].n_units
    assert ob["t_raw"] == funnel["raw"].n_tokens
    assert ob["n_quality"] == funnel["quality"].n_units
    assert ob["n_exact"] == funnel["exact_dedup"].n_units
    assert ob["n_neardup"] == funnel["neardup_dedup"].n_units
    assert ob["n_decontam"] == funnel["decontaminated"].n_units
    assert ob["n_sampled"] == funnel["sampled"].n_units
    assert ob["t_sampled"] == funnel["sampled"].n_tokens
    # the returned manifest ties out against the funnel too
    assert sum(r.bin_tokens for r in shards) == funnel["sampled"].n_tokens
    assert sum(r.bpe_tokens for r in shards) == funnel["bpe_tokens"].n_tokens
    assert len(shards) == funnel["packed"].n_units


def test_each_shared_stage_materializes_once(spark, sf_dir):
    """Plan audit (VERDICT r8 #1 acceptance): after the build, every
    downstream consumer reads the committed stage boundaries — no
    consumer's physical plan rescans the documents parquet or re-runs
    the LSH/gram subtrees (their lineage is truncated at the
    checkpoint, so re-optimization/recompute per branch is
    impossible by construction)."""
    frames, _ = build_e2e_stages(spark, sf_dir)
    try:
        for name in ("flags", "sampled", "packed", "words"):
            plan = frames[name]._sc._jvm.PythonSQLUtils.explainString(
                frames[name]._jdf.queryExecution(), "formatted"
            )
            assert "Scan parquet" not in plan, (name, plan[:2000])
            # the stage boundary shows up as a committed-RDD scan
            assert "ExistingRDD" in plan or "InMemoryTableScan" in plan, name
        # losers/contaminated-derived flags resolve from the same
        # committed frames: one action over the manifest touches no file
        manifest_plan = (
            frames["packed"]
            .join(
                frames["words"].groupBy("doc_id").agg(F.sum("n_sym").alias("s")),
                "doc_id",
                "left",
            )
            ._jdf.queryExecution()
            .toString()
        )
        assert "FileScan parquet" not in manifest_plan
    finally:
        release_caches(spark)


def test_mixture_rates_join_as_local_relation(spark, sf_dir):
    """The driver-planned rate table enters the flags plan as a
    LocalRelation (built once in the JVM), not a LogicalRDD over a
    parallelized Python list whose every scan task starts a Python
    worker."""
    frames, _ = build_e2e_stages(spark, sf_dir)
    try:
        leaves = frames["flags"]._jdf.queryExecution().optimizedPlan().collectLeaves()
        rate_side = [
            leaves.apply(i).nodeName()
            for i in range(leaves.size())
            if "rate_bp" in leaves.apply(i).output().toString()
        ]
        assert rate_side == ["LocalRelation"], rate_side
    finally:
        release_caches(spark)


def test_shard_manifest_consistency(spark, sf_dir):
    shards = QUERIES["corpus_e2e_shards"](spark, sf_dir).collect()
    release_caches(spark)
    assert len(shards) > 0
    per_source: dict = {}
    for r in shards:
        assert r.n_docs >= 1
        assert r.bin_tokens > 0
        assert r.bpe_tokens >= 0
        assert abs(r.fill_ratio - r.bin_tokens / 512.0) < 1e-3
        per_source.setdefault(r.source, []).append(r.bin_id)
    # bins are contiguous 0..max within each source (greedy packing)
    for src, bins in per_source.items():
        assert sorted(bins) == list(range(len(bins))), src


def test_resumable_stage_commits(spark, sf_dir, tmp_path):
    """r9: the stage-committed runner (pipeline/corpus_resume.py) —
    first run commits every stage as a store version; a rerun reuses
    all of them (stage-granular resume); forcing a downstream stage
    recomputes only it; results always equal the single-job query."""
    from calorista_spark.pipeline.corpus_resume import (
        run_corpus_e2e_committed,
    )

    root = str(tmp_path / "stores")
    expected = sorted(
        tuple(r) for r in QUERIES["corpus_e2e_shards"](spark, sf_dir).collect()
    )
    release_caches(spark)

    shards, rep = run_corpus_e2e_committed(spark, sf_dir, root)
    assert {s: r["action"] for s, r in rep.items()} == {
        "flags": "computed",
        "sampled": "computed",
        "shards": "computed",
    }
    assert sorted(tuple(r) for r in shards.collect()) == expected
    release_caches(spark)

    # resume: nothing recomputes, same manifest
    shards2, rep2 = run_corpus_e2e_committed(spark, sf_dir, root)
    assert {s: r["action"] for s, r in rep2.items()} == {
        "flags": "reused",
        "sampled": "reused",
        "shards": "reused",
    }
    assert sorted(tuple(r) for r in shards2.collect()) == expected
    release_caches(spark)

    # force just the last stage: upstream reused, output identical,
    # and the shards store gained a version (the old one still reads)
    shards3, rep3 = run_corpus_e2e_committed(
        spark, sf_dir, root, force=("shards",)
    )
    assert rep3["flags"]["action"] == "reused"
    assert rep3["sampled"]["action"] == "reused"
    assert rep3["shards"] == {"action": "computed", "version": 2}
    assert sorted(tuple(r) for r in shards3.collect()) == expected
    release_caches(spark)

    # forcing an UPSTREAM stage cascades: the chained parent-version
    # tags invalidate everything downstream, so no stale sampled/shards
    # commit can ever be served against a recomputed flags
    shards4, rep4 = run_corpus_e2e_committed(
        spark, sf_dir, root, force=("flags",)
    )
    assert {s: r["action"] for s, r in rep4.items()} == {
        "flags": "computed",
        "sampled": "computed",
        "shards": "computed",
    }
    assert sorted(tuple(r) for r in shards4.collect()) == expected
    release_caches(spark)


def test_input_tag_tracks_content_not_just_path(sf_dir, tmp_path):
    """r10 (ADVICE r9): stage reuse keys on a content fingerprint of
    the documents parquet, so regenerating the input in place (same
    path, new bytes/mtime) changes the tag and invalidates every
    cached stage."""
    import os
    import shutil

    from calorista_spark.pipeline.corpus_resume import _input_tag

    src = os.path.join(sf_dir, "documents.parquet")
    work = str(tmp_path / "sfcopy")
    os.makedirs(work)
    dst = os.path.join(work, "documents.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    t1 = _input_tag(work)
    assert t1 == _input_tag(work)  # stable across calls
    # in-place mutation (mtime bump == regenerated file): tag changes
    target = dst
    if os.path.isdir(dst):
        target = os.path.join(
            dst, sorted(os.listdir(dst))[0]
        )
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _input_tag(work) != t1
    # and a different path with identical content also differs (the
    # path itself stays part of the identity)
    assert _input_tag(sf_dir) != t1
