"""The composed end-to-end pretraining-data job (r9 — VERDICT r8 #1).

Every operator below was already verified query-by-query; this module
proves they COMPOSE into the single DAG a pipeline team actually runs:

  ingest → quality gate → exact dedup → near-dup dedup (MinHash-LSH)
  → eval decontamination → temperature-mixture sampling → sequence
  packing → BPE tokenize

as ONE Spark job. Three deliverables:

- ``corpus_e2e_funnel``: the per-stage (docs, tokens) funnel, fully
  DuckDB-oracle-checked, so the whole composition is pinned end to end.
- ``corpus_e2e_shards``: the job's real output artifact — the packed
  training-shard manifest per (source, bin) with whitespace AND BPE
  token counts — also oracle-checked.
- :func:`run_corpus_e2e`: the production shape — same DAG with
  ``df.observe`` stage counters (zero-cost piggyback metrics, no
  extra actions) returning the shard manifest plus the observed
  funnel; exercised by tests and the scale smoke.

Composition design (the r6 two-pass-rank lesson: plan reuse without
pinning is a hazard — and its cost twin: a blind composition
recomputes the dominant tokenize/hash work once per consumer):

- **One corpus scan.** Stage verdicts are FLAGS on one wide frame,
  not chained filtered copies (the curation-pipeline pattern): the
  quality verdict and the exact-dedup rank ride a single window over
  ``(q_pass, md5(text))``; near-dup losers, contaminated ids, and
  per-source sampling rates join back as columns. The documents
  parquet is read exactly once per run (asserted in
  tests/test_corpus_e2e.py by counting scan nodes).
- **Pin what ≥2 branches consume, and only that — with lineage
  truncation.** The flagged corpus frame (feeds the LSH signature
  build, the Jaccard verify, the gram explode, and the funnel), the
  near-dup loser / contaminated id lists (their lineage — the whole
  LSH chain / the gram window — is the dominant cost; multiple flag
  joins consume them), and the sampled set (feeds packing, the BPE
  word stream, and the funnel) are committed with
  operators/checkpoint.stage_checkpoint. A plain persist is NOT
  enough here: each downstream action would still re-optimize and
  re-broadcast the full multi-stage lineage (measured: ~2× the
  wall-clock in pure plan/broadcast overhead at sf0.01), exactly the
  flat-cost trap the PQ family documented. Checkpointing is also the
  honest 100 TB shape — stage_checkpoint automatically upgrades to
  reliable HDFS/S3 checkpoints when the session configures a
  checkpoint dir, which IS the parquet stage commit a production
  pipeline writes at these boundaries.
- **Driver-side mixture weights.** The temperature rates reduce to
  |sources| rows; computing them driver-side (same integer
  quantization as corpus_layout.source_temperature_weights — IEEE
  sqrt and double division are correctly rounded everywhere, so
  Python, the JVM, and DuckDB agree bit-for-bit) and joining them
  back as a driver-local relation (``catalog.local_table``) removes a
  cascade of nested one-row broadcast stages that AQE otherwise
  materializes one job at a time. The rate table is built once on the
  driver: broadcasting it runs no job and starts no Python worker.
  This mirrors production practice: mixture weights are a planning
  artifact, not a per-row computation.

100 TB shape: every stage is a keyed shuffle or a projection — the
LSH banding is a hash join (no all-pairs anywhere), decontamination
is one gram-keyed window, the sampler is a hash predicate against a
broadcast rate row, packing is a per-source window over the unique
doc_id.

Stage semantics reuse (and cite) the verified per-operator queries:
quality rule = data_pipeline.doc_quality_filter; exact dedup =
min-id-per-content-hash (llm.doc_exact_dedup); near-dup =
llm.doc_neardup_* (shingle → 16-seed MinHash → 4-row bands → bucket
join → exact Jaccard ≥ 0.8, lowest-id survivor); decontamination =
retrieval_decontam.doc_decontamination_report's ≥50%-leak rule with
the train/eval split of data_pipeline.doc_train_test_split;
temperature mixture = corpus_layout.source_temperature_weights (T=2);
sampling = 50% base × rate via a 32-bit md5 hash fraction; packing =
curation_extra.doc_pack_bins; BPE apply = corpus_lm's frozen 8-merge
table (corpus_bpe_compression).

No counterpart in the reference (its lifecycle, SURVEY §3.1, is a
composed pipeline of simpler stages: extract → dedup → merge).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from calorista_spark.catalog import local_table, read_table
from calorista_spark.operators.checkpoint import stage_checkpoint
from calorista_spark.operators.similarity import (
    lsh_candidate_pairs,
    minhash_band_keys,
    ngram_jaccard,
    shingles,
    words_of,
)
from calorista_spark.operators.textstats import token_count
from calorista_spark.queries.corpus_lm import (
    _BPE_WORDS_SQL,
    _N_SYM,
    _TOK_EXPR,
    _TOK_EXPR_SPARK,
)
from calorista_spark.queries.llm import lsh_verified_pairs_ctes
from calorista_spark.queries.registry import query

# ---------------------------------------------------------------------------
# Shared fragments. Everything dialect-identical is ONE string used by
# both engines (the "identical doubles need the identical expression
# tree" convention); only tokenizer/hash syntax differs per dialect.
# ---------------------------------------------------------------------------

_WORDS_SQL = "string_split_regex(lower(COALESCE(text, '')), '\\s+')"
_SHINGLES_SQL = (
    f"CASE WHEN len({_WORDS_SQL}) >= 3 THEN "
    f"list_transform(range(1, len({_WORDS_SQL}) - 1), "
    f"i -> array_to_string(list_slice({_WORDS_SQL}, i, i + 2), ' ')) "
    f"ELSE [] END"
)
_N_TOKENS_SQL = (
    "CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN 0 "
    "ELSE len(string_split_regex(trim(COALESCE(text, '')), '\\s+')) END"
)

# identical text in Spark SQL and DuckDB:
_SQ_SCALED = "CAST(FLOOR(SQRT(src_tokens * 1.0 / total) * 1e9 + 0.5) AS BIGINT)"
_RATE_BP = (
    "CAST(FLOOR(((sq_scaled * 1.0 / z) / (src_tokens * 1.0 / total)) "
    "* 1e4 + 0.5) AS BIGINT)"
)
# 32-bit md5 hash fraction of the doc id; keep iff fraction < rate/2
# (50% base rate × the per-source temperature factor, in basis points;
# all-integer comparison so the verdict is engine-exact)
_H32_SPARK = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
_H32_DUCK = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
_KEEP = "{h32} * 10000 < rate_bp * 2147483648"

_IS_TRAIN_SPARK = "substring(md5(CAST(doc_id AS STRING)), 1, 1) < 'c'"
_IS_TRAIN_DUCK = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'"


def _mixture_rates(per_src_rows) -> dict[str, int]:
    """Temperature-mixture rates (T=2) in basis points, driver-side —
    the EXACT double-expression order of source_temperature_weights'
    SQL (_SQ_SCALED / _RATE_BP above) replayed in Python: sqrt and /
    are IEEE-correctly-rounded in all three engines, so the rates are
    bit-identical to what the DuckDB oracle computes."""
    if not per_src_rows:
        return {}
    total = sum(r["src_tokens"] for r in per_src_rows)
    if total <= 0:
        return {r["source"]: 0 for r in per_src_rows}
    sq = {
        r["source"]: math.floor(
            math.sqrt(r["src_tokens"] * 1.0 / total) * 1e9 + 0.5
        )
        for r in per_src_rows
    }
    z = sum(sq.values())
    return {
        r["source"]: int(
            math.floor(
                (
                    (sq[r["source"]] * 1.0 / z)
                    / (r["src_tokens"] * 1.0 / total)
                )
                * 1e4
                + 0.5
            )
        )
        for r in per_src_rows
    }


def build_e2e_stages(
    spark: SparkSession,
    sf_dir: str,
    observe: bool = False,
    checkpoint: bool = True,
) -> tuple[dict[str, DataFrame], dict]:
    """Construct the composed job. Returns ``frames`` with the wide
    ``flags`` corpus frame (one row per raw document, one boolean per
    stage verdict), the ``sampled`` training subset, the ``packed``
    bin assignment, and the BPE ``words`` stream — plus the attached
    Observations when ``observe=True``.

    Partially eager by design: the |sources|-row token aggregate is
    collected here to plan the mixture rates (bounded driver collect,
    the PQ-codebook/BPE-vocab convention), which also materializes
    the pinned upstream caches exactly once."""
    observations: dict = {}
    # checkpoint=False is the measurement control for the composed-vs-
    # stagewise smoke (scale_smoke.py): identical DAG, no stage
    # commits, so every consumer recomputes its shared subtrees.
    # r15 note (measure-first, guide §1): lazy stage commits
    # (eager=False) were A/B'd here and REVERTED — wall-clock was a
    # wash (the eager jobs pipeline into the mixture collect anyway)
    # and a lazy `sampled` commit silently breaks the `df.observe`
    # funnel counters (materialization happens as inner-RDD compute of
    # the downstream action, outside any SQL execution, so
    # CollectMetrics never fires and the observed funnel reads 0).
    commit = stage_checkpoint if checkpoint else (lambda df: df)

    def _obs(df: DataFrame, name: str, metrics: dict[str, F.Column] | None = None) -> DataFrame:
        if not observe:
            return df
        from pyspark.sql import Observation

        ob = Observation(name)
        observations[name] = ob
        if metrics is None:
            metrics = {
                "n_units": F.count(F.lit(1)).cast("bigint"),
                "n_tokens": F.coalesce(F.sum("n_tokens"), F.lit(0)).cast(
                    "bigint"
                ),
            }
        return df.observe(ob, *[c.alias(n) for n, c in metrics.items()])

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    w = words_of("text")
    n_words = F.size(w)
    n_chars = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    q_pass = (
        (n_words >= 30)
        & (n_chars * 1.0 / n_words).between(3.8, 5.2)
        & (1.0 - F.size(F.array_distinct(w)) / n_words <= 0.55)
    )
    # exact dedup rides the same frame: rank within (q_pass, content
    # hash) so the survivor rule only binds inside the quality group
    rn = F.row_number().over(
        Window.partitionBy("q_pass", F.md5("text")).orderBy("doc_id")
    )
    base = commit(
        docs.select(
            "doc_id",
            "source",
            "text",
            token_count("text").cast("long").alias("n_tokens"),
            q_pass.alias("q_pass"),
        ).withColumn("exact_keep", F.col("q_pass") & (rn == 1))
    )

    # --- near-dup dedup (MinHash-LSH over the exact-dedup survivors).
    # The id-only loser list is pinned: its lineage is the whole LSH
    # chain (the dominant cost) and two downstream branches join it.
    exactd = base.filter("exact_keep")
    # r14 (guide §2.3): materialize the distinct-shingle sets once —
    # both the minhash signature build and the exact-Jaccard verify
    # consume them, and without the pin each branch re-tokenizes +
    # re-shingles the survivor corpus (the same fix as the standalone
    # LSH queries' shared shingle_sets; lazy checkpoint so the
    # checkpoint=False control path is unaffected in cost shape)
    sets = exactd.select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("sh")
    )
    if checkpoint:
        sets = stage_checkpoint(sets, eager=False)
    # r15 (guide §2.4): band keys straight off the wide minhash
    # aggregate — no long-format unpivot or second (id, band) exchange
    bands = minhash_band_keys(
        exactd, "doc_id", "text", num_hashes=16, n=3, rows_per_band=4,
        sets=sets,
    )
    # r15: materialize the band frame before its self-join — with the
    # fused band keys the subtree is one explode+agg from the sets
    # checkpoint, and AQE was re-executing it once PER JOIN SIDE
    # (back-to-back A/B under identical load: funnel 5.27 -> 4.77 s,
    # shards 4.20 -> 3.89 s)
    cand = lsh_candidate_pairs(bands, "doc_id", materialize_bands=checkpoint)
    jac = ngram_jaccard(cand, exactd, "doc_id", "text", n=3, sets=sets)
    losers = commit(
        jac.filter(F.col("jaccard") >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )

    is_train = F.expr(_IS_TRAIN_SPARK)

    # --- eval decontamination: ≥50% of a train doc's distinct 3-grams
    # leak from the eval half → drop. One gram-keyed window; the
    # contaminated id list is pinned (consumed by the flag join and,
    # transitively, by every downstream branch).
    # r14 (guide §2.3): the distinct 3-gram sets are EXACTLY the
    # checkpointed `sets` frame the LSH stage already materialized —
    # anti-join the loser ids there (is_train is a pure doc_id
    # expression) instead of re-tokenizing + re-shingling the survivor
    # text a third time. Same rows by construction: near-dup survivors
    # = exactd ∖ losers, and `sets` is keyed by exactd's doc_id.
    # The loser list is a checkpointed LogicalRDD — Catalyst has no
    # size estimate for it and would plan a SortMergeJoin shuffling
    # the whole gram side; F.broadcast keeps the anti-join map-side
    # (guide §3.1; at a loser set past the broadcast cap this swaps to
    # a Bloom prefilter per guide §3.2 — ids are 8 bytes/row, so
    # broadcast holds far past this bench's sizes).
    grams = (
        sets.join(F.broadcast(losers), "doc_id", "left_anti")
        .select(
            "doc_id",
            is_train.alias("is_train"),
            F.explode("sh").alias("gram"),
        )
    )
    in_eval = F.max(F.when(~F.col("is_train"), True)).over(
        Window.partitionBy("gram")
    )
    contaminated = commit(
        grams.withColumn("hit", in_eval)
        .filter("is_train")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("hit"), 1)).alias("n_leaked"),
        )
        .filter(F.col("n_leaked") * 2 >= F.col("n_grams"))
        .select("doc_id")
    )

    # --- one wide flags frame: every stage verdict as a column ---
    # broadcast both id lists (guide §3.1): same no-size-estimate
    # problem as the survivors anti-join above — without the hint the
    # losers join shuffled the full flagged corpus frame
    flags = (
        base.join(
            F.broadcast(
                losers.select(F.col("doc_id"), F.lit(True).alias("__loser"))
            ),
            "doc_id",
            "left",
        )
        .join(
            F.broadcast(
                contaminated.select(
                    F.col("doc_id"), F.lit(True).alias("__contam")
                )
            ),
            "doc_id",
            "left",
        )
        .withColumn("nd_keep", F.col("exact_keep") & F.col("__loser").isNull())
        .withColumn(
            "train_keep",
            F.col("nd_keep") & is_train & F.col("__contam").isNull(),
        )
        .drop("__loser", "__contam")
    )

    # --- temperature-mixture sampling (T=2, base 50%), rates planned
    # driver-side from the |sources|-row aggregate ---
    per_src = (
        flags.filter("train_keep")
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("src_tokens"))
        .collect()
    )
    rates = _mixture_rates(per_src)
    rates_df = local_table(
        spark,
        [(s, bp) for s, bp in sorted(rates.items())],
        "source string, rate_bp long",
    )
    flags = flags.join(F.broadcast(rates_df), "source", "left").withColumn(
        "samp",
        F.col("train_keep") & F.expr(_KEEP.format(h32=_H32_SPARK)),
    )
    flags = _obs(
        flags,
        "funnel",
        {
            "n_raw": F.count(F.lit(1)).cast("bigint"),
            "t_raw": F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint"),
            "n_quality": F.count(F.when(F.col("q_pass"), 1)).cast("bigint"),
            "n_exact": F.count(F.when(F.col("exact_keep"), 1)).cast("bigint"),
            "n_neardup": F.count(F.when(F.col("nd_keep"), 1)).cast("bigint"),
            "n_decontam": F.count(F.when(F.col("train_keep"), 1)).cast(
                "bigint"
            ),
            "n_sampled": F.count(F.when(F.col("samp"), 1)).cast("bigint"),
            "t_sampled": F.coalesce(
                F.sum(F.when(F.col("samp"), F.col("n_tokens"))), F.lit(0)
            ).cast("bigint"),
        },
    )

    # --- the sampled training set: pinned (packing + BPE + funnel) ---
    sampled = commit(
        flags.filter("samp").select("doc_id", "source", "text", "n_tokens")
    )

    packed, words = pack_and_tokenize(sampled)

    frames = {
        "flags": flags,
        "sampled": sampled,
        "packed": packed,
        "words": words,
    }
    return frames, observations


def pack_and_tokenize(sampled: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Sequence packing (512-token greedy bins per source) and the
    BPE-tokenized word stream from a sampled training set. Shared by
    the lazy builder above and the stage-committed resumable runner
    (pipeline/corpus_resume.py), so both paths compute the identical
    shard manifest.

    BPE n_sym is computed INLINE per word occurrence: the rewrite is a
    pure function of the word, so the values equal the oracle's
    vocab-join formulation while skipping its distinct+join shuffles
    (at this fan-out the tokenize is cheaper than the exchange; at
    open-vocabulary 100 TB scale the (source, word) aggregate of
    corpus_bpe_compression is the right trade and remains available).
    """
    from calorista_spark.operators.bpe import bpe_words_of

    wbin = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sampled.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(wbin) - F.col("n_tokens")) / 512)
        .cast("long")
        .alias("bin_id"),
    )
    words = (
        sampled.select(
            "doc_id", "source", F.explode(bpe_words_of("text")).alias("word")
        )
        .filter(F.length("word") > 0)
        .withColumn("n_sym", F.expr(_N_SYM.format(t=_TOK_EXPR_SPARK)))
    )
    return packed, words


def run_corpus_e2e(spark: SparkSession, sf_dir: str):
    """Production entry point: execute the composed job (one action
    over the shard manifest; the mixture planning collect runs inside
    the build) and return ``(shard_rows, stage_metrics)`` where the
    metrics came from the piggybacked ``df.observe`` counters — the
    funnel a real run logs without any extra jobs. Caller releases
    caches via cache.release_caches."""
    frames, obs = build_e2e_stages(spark, sf_dir, observe=True)
    shards = _shard_manifest(frames).collect()
    metrics = {name: ob.get for name, ob in obs.items()}
    return shards, metrics


def _bpe_total(words: DataFrame) -> DataFrame:
    """Corpus BPE token total: one map-side-combined sum over the
    inline-tokenized word stream."""
    return words.agg(
        F.coalesce(F.sum("n_sym"), F.lit(0)).cast("bigint").alias("n_bpe")
    )


def _shard_manifest(frames: dict[str, DataFrame]) -> DataFrame:
    """Final output artifact: per (source, bin) doc count, whitespace
    tokens, fill ratio, and BPE token count."""
    words, packed = frames["words"], frames["packed"]
    doc_bpe = words.groupBy("doc_id").agg(
        F.sum("n_sym").cast("long").alias("doc_bpe")
    )
    return (
        packed.join(doc_bpe, "doc_id", "left")
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
            (
                F.floor(
                    F.sum("n_tokens").cast("double") * 1e4 / 512.0 + F.lit(0.5)
                )
                / 1e4
            ).alias("fill_ratio"),
            F.coalesce(F.sum("doc_bpe"), F.lit(0))
            .cast("bigint")
            .alias("bpe_tokens"),
        )
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the same staged chain as one CTE pipeline.
# ---------------------------------------------------------------------------

_STAGED_CTES = f"""base AS (
  SELECT doc_id, source, text, CAST({_N_TOKENS_SQL} AS BIGINT) AS n_tokens
  FROM documents
),
qmetrics AS (
  SELECT doc_id, source, text, n_tokens,
         len({_WORDS_SQL}) AS n_words,
         len(list_distinct({_WORDS_SQL})) AS n_distinct,
         CAST(list_sum(list_transform({_WORDS_SQL}, x -> CAST(len(x) AS BIGINT))) AS BIGINT) AS n_chars
  FROM base
),
quality AS (
  SELECT doc_id, source, text, n_tokens FROM qmetrics
  WHERE n_words >= 30
    AND n_chars * 1.0 / n_words BETWEEN 3.8 AND 5.2
    AND 1.0 - n_distinct * 1.0 / n_words <= 0.55
),
exactd AS (
  SELECT doc_id, source, text, n_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM quality
  ) WHERE rn = 1
),
{lsh_verified_pairs_ctes("exactd")},
survivors AS (
  SELECT e.* FROM exactd e
  WHERE e.doc_id NOT IN (SELECT id_b FROM pairs)
),
labeled AS (
  SELECT *, {_IS_TRAIN_DUCK} AS is_train FROM survivors
),
grams AS (
  SELECT doc_id, is_train, unnest(list_distinct({_SHINGLES_SQL})) AS gram
  FROM labeled
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE NOT is_train),
contaminated AS (
  SELECT g.doc_id
  FROM grams g LEFT JOIN eval_grams e USING (gram)
  WHERE g.is_train
  GROUP BY g.doc_id
  HAVING COUNT(*) FILTER (WHERE e.gram IS NOT NULL) * 2 >= COUNT(*)
),
train_clean AS (
  SELECT doc_id, source, text, n_tokens FROM labeled
  WHERE is_train AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
per_src AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
  FROM train_clean GROUP BY source
),
tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total FROM per_src),
scaled AS (
  SELECT source, src_tokens, total, {_SQ_SCALED} AS sq_scaled
  FROM per_src, tot
),
zc AS (SELECT CAST(SUM(sq_scaled) AS BIGINT) AS z FROM scaled),
rates AS (
  SELECT source, {_RATE_BP} AS rate_bp FROM scaled, zc
),
sampled AS (
  SELECT t.* FROM train_clean t JOIN rates r USING (source)
  WHERE {_KEEP.format(h32=_H32_DUCK)}
),
packed AS (
  SELECT source, doc_id, n_tokens,
         CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT)
           AS bin_id
  FROM sampled
)"""

_FUNNEL_ORACLE = f"""
WITH {_STAGED_CTES},
bwords AS (
  SELECT doc_id, source, word FROM (
    SELECT doc_id, source, unnest({_BPE_WORDS_SQL}) AS word FROM sampled
  ) WHERE length(word) > 0
),
sw AS (SELECT word, COUNT(*) AS c FROM bwords GROUP BY 1),
vocab AS (
  SELECT word, {_N_SYM.format(t=_TOK_EXPR)} AS n_sym
  FROM (SELECT word, {_TOK_EXPR} AS toks
        FROM (SELECT DISTINCT word FROM sw))
),
bpe_total AS (
  SELECT CAST(COALESCE(SUM(sw.c * v.n_sym), 0) AS BIGINT) AS n_bpe
  FROM sw JOIN vocab v USING (word)
),
bins AS (SELECT DISTINCT source, bin_id FROM packed)
SELECT CAST(1 AS INTEGER) AS stage_id, 'raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_units,
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens FROM base
UNION ALL
SELECT 2, 'quality', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM quality
UNION ALL
SELECT 3, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM exactd
UNION ALL
SELECT 4, 'neardup_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM survivors
UNION ALL
SELECT 5, 'decontaminated', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM train_clean
UNION ALL
SELECT 6, 'sampled', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM sampled
UNION ALL
SELECT 7, 'packed', (SELECT CAST(COUNT(*) AS BIGINT) FROM bins),
       CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM packed
UNION ALL
SELECT 8, 'bpe_tokens', (SELECT CAST(COUNT(*) AS BIGINT) FROM bins),
       (SELECT n_bpe FROM bpe_total)
ORDER BY stage_id
"""


@query("corpus_e2e_funnel", _FUNNEL_ORACLE)
def corpus_e2e_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-data job's stage funnel: (n_units,
    n_tokens) after every stage of ingest → quality → exact dedup →
    LSH near-dup dedup → decontamination → temperature sampling →
    packing → BPE tokenize, computed over the single flagged corpus
    pass. n_units = documents (stages 1–6) / packed bins (7–8);
    n_tokens = whitespace tokens (1–7) / BPE tokens (8)."""
    frames, _ = build_e2e_stages(spark, sf_dir)
    flags, packed, words = frames["flags"], frames["packed"], frames["words"]
    tok = lambda p: F.coalesce(  # noqa: E731
        F.sum(F.when(F.col(p), F.col("n_tokens"))), F.lit(0)
    ).cast("bigint")
    cnt = lambda p: F.count(F.when(F.col(p), 1)).cast("bigint")  # noqa: E731
    wide = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias("t1"),
        cnt("q_pass").alias("n2"),
        tok("q_pass").alias("t2"),
        cnt("exact_keep").alias("n3"),
        tok("exact_keep").alias("t3"),
        cnt("nd_keep").alias("n4"),
        tok("nd_keep").alias("t4"),
        cnt("train_keep").alias("n5"),
        tok("train_keep").alias("t5"),
        cnt("samp").alias("n6"),
        tok("samp").alias("t6"),
    )
    stages16 = wide.selectExpr(
        "stack(6, "
        "1, 'raw', n1, t1, "
        "2, 'quality', n2, t2, "
        "3, 'exact_dedup', n3, t3, "
        "4, 'neardup_dedup', n4, t4, "
        "5, 'decontaminated', n5, t5, "
        "6, 'sampled', n6, t6"
        ") AS (stage_id, stage, n_units, n_tokens)"
    ).select(
        F.col("stage_id").cast("int"), "stage", "n_units", "n_tokens"
    )
    bins = packed.select("source", "bin_id").distinct()
    n_bins = bins.agg(F.count(F.lit(1)).cast("bigint").alias("n_units"))
    s7 = n_bins.crossJoin(
        packed.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens")
        )
    ).select(
        F.lit(7).cast("int").alias("stage_id"),
        F.lit("packed").alias("stage"),
        "n_units",
        "n_tokens",
    )
    s8 = n_bins.crossJoin(
        _bpe_total(words).select(F.col("n_bpe").alias("n_tokens"))
    ).select(
        F.lit(8).cast("int").alias("stage_id"),
        F.lit("bpe_tokens").alias("stage"),
        "n_units",
        "n_tokens",
    )
    return stages16.unionByName(s7).unionByName(s8).orderBy("stage_id")


_SHARDS_ORACLE = f"""
WITH {_STAGED_CTES},
bwords AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest({_BPE_WORDS_SQL}) AS word FROM sampled
  ) WHERE length(word) > 0
),
vocab AS (
  SELECT word, {_N_SYM.format(t=_TOK_EXPR)} AS n_sym
  FROM (SELECT word, {_TOK_EXPR} AS toks
        FROM (SELECT DISTINCT word FROM bwords))
),
doc_bpe AS (
  SELECT b.doc_id, CAST(SUM(v.n_sym) AS BIGINT) AS doc_bpe
  FROM bwords b JOIN vocab v USING (word)
  GROUP BY b.doc_id
)
SELECT p.source, p.bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_tokens) AS BIGINT) AS bin_tokens,
       FLOOR(CAST(SUM(p.n_tokens) AS DOUBLE) * 1e4 / 512.0 + 0.5) / 1e4
         AS fill_ratio,
       CAST(COALESCE(SUM(d.doc_bpe), 0) AS BIGINT) AS bpe_tokens
FROM packed p LEFT JOIN doc_bpe d USING (doc_id)
GROUP BY p.source, p.bin_id
ORDER BY p.source, p.bin_id
"""


@query("corpus_e2e_shards", _SHARDS_ORACLE)
def corpus_e2e_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed job's output artifact: the packed training-shard
    manifest — per (source, 512-token bin): document count, whitespace
    token count, fill ratio, and BPE token count under the frozen
    production merge table. What the dataloader reads to plan an
    epoch; every upstream curation stage is inside this one plan."""
    frames, _ = build_e2e_stages(spark, sf_dir)
    return _shard_manifest(frames)
