"""Corpus statistics for tokenizer/LM design (SURVEY §2.11 L4
extensions): vocabulary coverage curves and trigram conditional
probabilities — the counting passes a tokenizer trainer or n-gram
LM runs over a corpus.

Scale shape: both queries reduce token streams to vocabulary-sized
aggregates before any windowing, so the expensive stages are plain
keyed shuffles with map-side partial aggregation; the global ranking
window runs over the (tiny, corpus-independent) vocabulary only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from calorista_spark.catalog import local_table, read_table
from calorista_spark.operators.bpe import bpe_words_of, bpe_words_sql
from calorista_spark.queries.registry import query

_WORDS_SQL = "string_split_regex(lower(COALESCE(text, '')), '\\s+')"

# Unicode word tokenizer shared by the whole BPE family (r8): letter
# runs via [^\p{L}]+ with a codepoint fallback for unsegmented scripts
# — see operators/bpe.py for the cross-engine determinism argument.
_BPE_WORDS_SQL = bpe_words_sql("text")

# ---------------------------------------------------------------------------
# Vocabulary coverage: how much of the token stream the top-k words
# cover (the tokenizer-budget curve).
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = f"""
WITH terms AS (
  SELECT unnest({_WORDS_SQL}) AS term FROM documents
),
freq AS (SELECT term, COUNT(*) AS cnt FROM terms GROUP BY term),
ranked AS (
  SELECT term, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, term
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS total
  FROM freq
)
SELECT rank, term, CAST(cnt AS BIGINT) AS cnt,
       ROUND(cum * 1.0 / total, 6) AS cum_share
FROM ranked WHERE rank <= 100
ORDER BY rank
"""


@query("corpus_vocab_coverage", _VOCAB_ORACLE)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 vocabulary coverage curve. The token explode reduces to
    per-term counts with map-side combine; then top-100 FIRST
    (TakeOrderedAndProject — per-partition heaps; an open-vocabulary
    corpus can have billions of distinct terms, so no window may see
    the full vocab), the grand total as a broadcast 1-row aggregate,
    and rank/cumulative windows only over the bounded 100-row result.
    Identical output to ranking the full vocab: the top-k ordering key
    equals the rank ordering key (cnt desc, term)."""
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    terms = docs.select(
        F.explode(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")).alias("term")
    )
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("__total"))
    top = freq.orderBy(F.col("cnt").desc(), "term").limit(100)
    w_rank = Window.orderBy(F.col("cnt").desc(), "term")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number().over(w_rank).cast("bigint").alias("rank"),
            "term",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.round(
                F.sum("cnt").over(w_cum) * 1.0 / F.col("__total"), 6
            ).alias("cum_share"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Trigram conditional probabilities: P(w3 | w1 w2) for trigrams seen
# at least 5 times — the n-gram LM estimation pass.
# ---------------------------------------------------------------------------

_TRIGRAM_ORACLE = f"""
WITH w AS (SELECT {_WORDS_SQL} AS words FROM documents),
tri AS (
  SELECT unnest(list_transform(range(1, greatest(len(words) - 1, 1)),
         i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS t3
  FROM w
),
split_t AS (
  SELECT string_split(t3, ' ') AS p FROM tri
),
tc AS (
  SELECT p[1] AS w1, p[2] AS w2, p[3] AS w3, COUNT(*) AS c3
  FROM split_t GROUP BY 1, 2, 3
),
bc AS (SELECT w1, w2, SUM(c3) AS c2 FROM tc GROUP BY 1, 2)
SELECT tc.w1, tc.w2, tc.w3,
       CAST(tc.c3 AS BIGINT) AS c3, CAST(bc.c2 AS BIGINT) AS c2,
       CAST((tc.c3 * 1000000) // bc.c2 AS BIGINT) AS cond_p_ppm
FROM tc JOIN bc ON tc.w1 = bc.w1 AND tc.w2 = bc.w2
WHERE tc.c3 >= 5
ORDER BY tc.w1, tc.w2, tc.w3
"""


@query("corpus_trigram_lm", _TRIGRAM_ORACLE)
def corpus_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM estimation: trigram counts, their bigram-prefix
    totals, and the conditional probability. The trigram explode stays
    fused with the split projection (zip_with over shifted slices —
    no self-join); prefix totals come from a window over (w1, w2) on
    the already-aggregated counts, so the explode pipeline runs ONCE
    (a groupBy+join of the same frame recomputes it: measured 1.8s vs
    1.4s at sf0.1)."""
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    words = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    n = F.size(words)
    m = F.greatest(n - 2, F.lit(0))
    s1 = F.slice(words, 1, m)
    s2 = F.slice(words, 2, m)
    s3 = F.slice(words, 3, m)
    t12 = F.zip_with(s1, s2, lambda a, b: F.concat_ws(" ", a, b))
    t123 = F.zip_with(t12, s3, lambda ab, c: F.concat_ws(" ", ab, c))
    parts = F.split(F.col("t3"), " ")
    tc = (
        docs.select(F.explode(t123).alias("t3"))
        .select(
            parts.getItem(0).alias("w1"),
            parts.getItem(1).alias("w2"),
            parts.getItem(2).alias("w3"),
        )
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    w_prefix = Window.partitionBy("w1", "w2")
    return (
        tc.withColumn("c2", F.sum("c3").over(w_prefix))
        .filter(F.col("c3") >= 5)
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c3").cast("bigint").alias("c3"),
            F.col("c2").cast("bigint").alias("c2"),
            # integer parts-per-million: exact in both engines (a
            # double ratio rounds half-cases differently across them)
            F.expr("c3 * 1000000 div c2").cast("bigint").alias("cond_p_ppm"),
        )
        .orderBy("w1", "w2", "w3")
    )


@query("corpus_bpe_merges", None)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first 8 BPE merges learned from the
    corpus (Sennrich subword units). Runs the real-vocab-capable
    trainer (operators/bpe.py learn_bpe_merges_driver): ONE Spark
    corpus pass builds the word-frequency table, the merge loop runs
    driver-side over it — the shape that survives a 30k-merge
    production vocabulary (proved at 1000 merges / 200k docs in
    scale_smoke.py). Iterative ⇒ rows-only driver check; the merge
    sequence is pinned identical to both the all-Spark loop and a
    pure-python reference in tests/test_bpe.py, including the
    non-overlapping left-to-right merge semantics and the
    deterministic (count desc, pair asc) tie-break."""
    from calorista_spark.operators.bpe import learn_bpe_merges_driver

    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    # max_words bounds the driver collect at open-vocabulary scale
    # (TakeOrdered top-N by count — standard frequency truncation);
    # a no-op at test SFs where the vocab is tiny
    merges, _ = learn_bpe_merges_driver(docs, 8, max_words=1_000_000)
    return local_table(
        spark,
        [
            (i + 1, left, right, cnt)
            for i, (left, right, cnt) in enumerate(merges)
        ],
        "merge_rank int, left string, right string, pair_count long",
    ).orderBy("merge_rank")


# Frozen 8-merge table for the oracle-checked APPLY path (learned once
# from the sf0.01 corpus over the Unicode word tokenizer and pinned as
# a constant — a production tokenizer ships its merge table exactly
# like this). Shared verbatim between the Spark plan and the DuckDB
# oracle below so the two sides can never drift.
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "r▁"),
    ("o", "w▁"),
    ("t", "o"),
    ("a", "t"),
    ("l", "u"),
    ("a", "s"),
    ("i", "n"),
    ("e", "r"),
]

# Shared tokenizer rendering, used VERBATIM by both engines (only the
# regex backreference syntax differs: Java $1 vs RE2 \1): a word's
# symbol list is a double-separator string ('  tok1  tok2  ');
# merging (l, r) is then replace(' l  r ', ' lr ') — plain replace()
# scans left-to-right non-overlapping, which IS the BPE rewrite rule,
# and the doubled separators keep adjacent merges from consuming each
# other's boundary (verified against a pure-python reference incl.
# the 'aaaaa' overlapping-run case, and pinned equal to the
# merge_pair_expr fold chain in tests/test_bpe.py). Safe because
# words are \p{L} runs: no token can contain a space. String-builtin
# pipeline chosen over 8 chained array folds for the Spark side too:
# identical semantics, ~5× cheaper whole-stage codegen (benched
# 5.1 s → ~1 s cold at sf0.1), and no broadcast join needed — the
# token count computes inline on the (source, word) aggregate.


def _tok_pipeline(backref: str) -> str:
    expr = (
        "'  ' || regexp_replace(substr(word, 1, length(word)-1), '(.)', "
        f"'{backref}  '"
        "{flags}) || substr(word, length(word), 1) || '▁' || '  '"
    )
    for left, right in BPE_FIXED_MERGES:
        expr = f"replace({expr}, ' {left}  {right} ', ' {left}{right} ')"
    return expr


_TOK_EXPR = _tok_pipeline("\\1").format(flags=", 'g'")  # DuckDB RE2
_TOK_EXPR_SPARK = _tok_pipeline("$1").format(flags="")  # Spark/Java
_N_SYM = (
    "CAST((length({t}) - length(replace({t}, ' ', ''))) / 2 - 1 AS BIGINT)"
)

_BPE_APPLY_ORACLE = f"""
WITH words AS (
  SELECT source, unnest({_BPE_WORDS_SQL}) AS word
  FROM documents
),
sw AS (SELECT source, word, COUNT(*) AS c FROM words
       WHERE length(word) > 0 GROUP BY 1, 2),
vocab AS (
  SELECT word,
         CAST((length(toks) - length(replace(toks, ' ', ''))) / 2 - 1
              AS BIGINT) AS n_sym,
         CAST(length(word) AS BIGINT) AS n_chr
  FROM (SELECT word, {_TOK_EXPR} AS toks
        FROM (SELECT DISTINCT word FROM sw))
)
SELECT sw.source,
       CAST(SUM(sw.c) AS BIGINT) AS n_words,
       CAST(SUM(sw.c * v.n_chr) AS BIGINT) AS n_chars,
       CAST(SUM(sw.c * v.n_sym) AS BIGINT) AS n_bpe_tokens,
       FLOOR(CAST(SUM(sw.c * v.n_chr) AS DOUBLE)
             / CAST(SUM(sw.c * v.n_sym) AS DOUBLE) * 1e4 + 0.5) / 1e4
         AS chars_per_token
FROM sw JOIN vocab v USING (word)
GROUP BY sw.source
ORDER BY sw.source
"""


@query("corpus_bpe_compression", _BPE_APPLY_ORACLE)
def corpus_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY path, oracle-checked (r7 — formerly rows-only):
    a FIXED shipped 8-merge BPE table (BPE_FIXED_MERGES) applied to
    the corpus's lowercase-alpha words, reported as per-source
    compression — words, characters, BPE tokens, chars-per-token.
    The "how much does this tokenizer compress each feed" question a
    corpus intake answers against the production tokenizer.

    Scale shape: the corpus pass is one explode + one keyed
    (source, word) agg with map-side combine; the 8 merge rewrites
    then run INLINE on that vocab-small aggregate via the shared
    string pipeline — one linear plan, no second corpus pass, no
    broadcast. Learning stays in corpus_bpe_merges (inherently
    iterative ⇒ rows-only there); apply is pure SQL-expressible, so
    DuckDB re-tokenizes every word independently with the same
    rendering."""
    docs = read_table(spark, sf_dir, "documents", fan_out=True)
    # split-on-non-letter == extract-all-letter-runs (empties filtered),
    # but split's codegen/setup benched 6× cheaper cold at sf0.1
    words = docs.select(
        "source", F.explode(bpe_words_of("text")).alias("word")
    ).filter(F.length("word") > 0)
    sw = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    tokenized = sw.select(
        "source",
        "c",
        F.expr(_N_SYM.format(t=_TOK_EXPR_SPARK)).alias("n_sym"),
        F.length("word").cast("long").alias("n_chr"),
    )
    return (
        tokenized.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_chr")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("n_sym"))
            .cast("long")
            .alias("n_bpe_tokens"),
            (
                F.floor(
                    F.sum(F.col("c") * F.col("n_chr")).cast("double")
                    / F.sum(F.col("c") * F.col("n_sym")).cast("double")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


_FERTILITY_ORACLE = f"""
WITH words AS (
  SELECT COALESCE(lang, 'und') AS lang,
         unnest({_BPE_WORDS_SQL}) AS word
  FROM documents
),
lw AS (SELECT lang, word, COUNT(*) AS c FROM words
       WHERE length(word) > 0 GROUP BY 1, 2),
tok AS (
  SELECT lang, c,
         {_N_SYM.format(t=_TOK_EXPR)} AS n_sym
  FROM lw
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(SUM(c * n_sym) AS BIGINT) AS n_bpe_tokens,
       FLOOR(CAST(SUM(c * n_sym) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             * 1e4 + 0.5) / 1e4 AS tokens_per_word,
       CAST(SUM(CASE WHEN n_sym >= 3 THEN c ELSE 0 END) AS BIGINT)
         AS n_fragmented,
       CAST(SUM(CASE WHEN n_sym >= 3 THEN c ELSE 0 END) * 1000000
            // SUM(c) AS BIGINT) AS frag_ppm
FROM tok
GROUP BY lang
ORDER BY lang
"""


def _fertility_report(docs: DataFrame) -> DataFrame:
    """Per-language fertility aggregation over any (lang, text) frame —
    factored out of the registered query so tests can pin non-Latin
    fertility on synthetic multilingual corpora (the r7 verdict's
    acceptance check: the report must SEE the languages it protects)."""
    words = docs.select(
        F.coalesce("lang", F.lit("und")).alias("lang"),
        F.explode(bpe_words_of("text")).alias("word"),
    ).filter(F.length("word") > 0)
    lw = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    tok = lw.select(
        "lang",
        "c",
        F.expr(_N_SYM.format(t=_TOK_EXPR_SPARK)).alias("n_sym"),
    )
    frag = F.sum(F.when(F.col("n_sym") >= 3, F.col("c")).otherwise(F.lit(0)))
    return (
        tok.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.col("n_sym"))
            .cast("long")
            .alias("n_bpe_tokens"),
            (
                F.floor(
                    F.sum(F.col("c") * F.col("n_sym")).cast("double")
                    / F.sum("c").cast("double")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("tokens_per_word"),
            frag.cast("long").alias("n_fragmented"),
            F.expr(
                "CAST(sum(CASE WHEN n_sym >= 3 THEN c ELSE 0 END) * 1000000"
                " div sum(c) AS BIGINT)"
            ).alias("frag_ppm"),
        )
        .orderBy("lang")
    )


@query("bpe_fertility_by_lang", _FERTILITY_ORACLE)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY report: tokens-per-word and the share of
    word occurrences fragmented into >= 3 subword tokens, per
    language — the metric a tokenizer team watches to see which
    languages a merge table under-serves (high fertility = more
    compute per content word). Applies the same frozen 8-merge table
    and shared string-pipeline tokenizer as corpus_bpe_compression —
    over the r8 Unicode word tokenizer, so non-Latin corpora now
    contribute instead of vanishing at the splitter. Keyed by the
    corpus's language column (COALESCE'd to 'und' — totality
    convention); fragmentation rate is an exact integer ppm (`div`),
    never a rounded double ratio."""
    return _fertility_report(read_table(spark, sf_dir, "documents"))
