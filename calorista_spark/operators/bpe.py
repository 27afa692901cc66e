"""BPE merge learning (Sennrich et al., "Neural Machine Translation
of Rare Words with Subword Units") — the tokenizer-training step of a
pretraining data pipeline, done Spark-first.

The classic algorithm trains on the WORD-FREQUENCY table, not the raw
corpus: one corpus pass builds ``(word, count)`` (map-side-combined
groupBy — the only stage that scales with data volume), then every
merge iteration runs over the vocabulary-sized symbol table:

1. explode adjacent symbol pairs, weighted by word count;
2. pick the most frequent pair (ties: lexicographic (left, right) —
   deterministic across engines/cluster sizes);
3. rewrite each word's symbol array, merging non-overlapping
   occurrences left-to-right (a single ``aggregate`` fold — no
   Python in the loop).

The winning pair is a ONE-ROW collect per iteration — the learned
artifact itself, not data (same class as the broadcast offsets of the
two-pass rank). The vocab table is localCheckpointed each round to
truncate the iterative lineage, mirroring
:func:`operators.graph.connected_components`.

At 100 TB you'd train on the hash-sampled slice
(``doc_hash_sample``) — the algorithm is identical; only the first
groupBy sees the full corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from calorista_spark.catalog import local_table

# end-of-word marker, kept out of the corpus alphabet
EOW = "▁"

# ---------------------------------------------------------------------------
# Unicode word tokenizer (r8 — replaces the r7 `[^a-z]+` splitter that
# discarded every non-ASCII word before the fertility report could see
# the languages it exists to protect).
#
# Semantics, identical on Spark (Java regex), DuckDB (RE2), and the
# pure-python twin:
#   1. lowercase (full Unicode mapping), then canonicalize the ONLY two
#      non-locale divergences between Java's full case mapping and
#      DuckDB/utf8proc's simple mapping (Unicode SpecialCasing.txt):
#      final sigma 'ς'→'σ' (also what full case-folding does) and
#      'i'+U+0307 → 'i' (Java lowers 'İ' to the two-codepoint form);
#   2. codepoint fallback for unsegmented scripts: every codepoint in
#      UNSEG_RANGES (CJK ideographs incl. Ext-A/compatibility, kana,
#      Thai) is spaced out so it tokenizes as its own word — the
#      standard character-level fallback for scripts without word
#      boundaries;
#   3. split on non-letter runs `[^\p{L}]+` — words are \p{L} runs, so
#      no word can contain whitespace (the invariant the downstream
#      double-separator tokenizer rendering relies on).
#
# The unsegmented class is written as literal \x{..}-\x{..} ranges, NOT
# \p{script=...}: the identical pattern text compiles in both Java and
# RE2 and cannot drift across engine Unicode versions. (Supplementary-
# plane CJK Ext-B+ is deliberately outside the set: those runs stay
# multi-codepoint words, still letters, still counted.)
# ---------------------------------------------------------------------------

UNSEG_RANGES: tuple[tuple[int, int], ...] = (
    (0x3040, 0x30FF),  # hiragana + katakana
    (0x3400, 0x4DBF),  # CJK Extension A
    (0x4E00, 0x9FFF),  # CJK unified ideographs
    (0xF900, 0xFAFF),  # CJK compatibility ideographs
    (0x0E01, 0x0E3A),  # Thai letters/vowels (sans ฿ and symbols)
    (0x0E40, 0x0E4E),  # Thai leading vowels / tone marks
)
_UNSEG_CLASS = "[" + "".join(
    f"\\x{{{a:04X}}}-\\x{{{b:04X}}}" for a, b in UNSEG_RANGES
) + "]"


def bpe_words_of(text: Column | str) -> Column:
    """Unicode word array for the BPE family (may contain empties —
    callers filter ``length > 0``, matching the oracle's WHERE).
    TOTAL on null: null text ≡ empty document."""
    c = F.col(text) if isinstance(text, str) else text
    low = F.lower(F.coalesce(c, F.lit("")))
    canon = F.replace(
        F.replace(low, F.lit("ς"), F.lit("σ")), F.lit("i̇"), F.lit("i")
    )
    spaced = F.regexp_replace(canon, f"({_UNSEG_CLASS})", " $1 ")
    return F.split(spaced, r"[^\p{L}]+")


def bpe_words_sql(col: str = "text") -> str:
    """The DuckDB rendering of :func:`bpe_words_of` — same pipeline,
    same pattern text (only the backreference syntax differs: $1 vs
    \\1). Returns a list-of-varchar SQL expression (with empties)."""
    return (
        "string_split_regex(regexp_replace("
        f"replace(replace(lower(COALESCE({col}, '')), 'ς', 'σ'), "
        f"'i̇', 'i'), '({_UNSEG_CLASS})', ' \\1 ', 'g'), '[^\\p{{L}}]+')"
    )


def py_bpe_words(text: str | None) -> list[str]:
    """Pure-python twin of :func:`bpe_words_of` (test reference)."""
    import unicodedata

    low = (text or "").lower().replace("ς", "σ").replace("i̇", "i")
    out: list[str] = []
    cur: list[str] = []
    for ch in low:
        cp = ord(ch)
        unseg = any(a <= cp <= b for a, b in UNSEG_RANGES)
        letter = unicodedata.category(ch).startswith("L")
        if letter and not unseg:
            cur.append(ch)
        else:
            if cur:
                out.append("".join(cur))
                cur = []
            # a spaced-out unsegmented codepoint survives the final
            # [^\p{L}]+ split only if it is itself a letter (Thai tone
            # marks are Mn → separators, same as the engine pipelines)
            if unseg and letter:
                out.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def word_freq_symbols(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt, symbols) — symbols = characters + end-of-word
    marker appended to the final character, per the classic setup.
    Words come from the Unicode tokenizer above (r8 — the trainer now
    sees the same vocabulary the apply/fertility queries count)."""
    words = docs.select(
        F.explode(bpe_words_of(text_col)).alias("word")
    ).filter(F.length("word") > 0)
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    chars = F.split(F.col("word"), "")
    n = F.size(chars)
    symbols = F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(EOW))),
    )
    return freq.select(
        "word", "cnt", F.when(n > 0, symbols).otherwise(chars).alias("symbols")
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the symbol table, weighted by
    word count: ``(left, right, pair_count)``."""
    pairs = F.zip_with(
        F.slice("symbols", 1, F.size("symbols") - 1),
        F.slice("symbols", 2, F.size("symbols") - 1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        vocab.filter(F.size("symbols") >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy("p.left", "p.right")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def merge_pair_expr(left: str, right: str) -> Column:
    """Rewrite ``symbols`` with non-overlapping left-to-right merges
    of (left, right) — the exact reference semantics — as one fold:
    carry the previous unmerged symbol; when it is ``left`` and the
    current is ``right``, emit the merged token and clear the carry."""
    la, rb = F.lit(left), F.lit(right)
    step = lambda acc, s: F.when(  # noqa: E731
        acc.getField("prev").isNotNull()
        & (acc.getField("prev") == la)
        & (s == rb),
        F.struct(
            F.concat(acc.getField("out"), F.array(F.concat(la, rb))).alias(
                "out"
            ),
            F.lit(None).cast("string").alias("prev"),
        ),
    ).otherwise(
        F.struct(
            F.when(
                acc.getField("prev").isNotNull(),
                F.concat(acc.getField("out"), F.array(acc.getField("prev"))),
            )
            .otherwise(acc.getField("out"))
            .alias("out"),
            s.alias("prev"),
        )
    )
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )
    return F.aggregate(
        F.col("symbols"),
        init,
        step,
        lambda acc: F.when(
            acc.getField("prev").isNotNull(),
            F.concat(acc.getField("out"), F.array(acc.getField("prev"))),
        ).otherwise(acc.getField("out")),
    )


def _ltr_merge(syms: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    """Non-overlapping left-to-right merge of (left, right) — the
    driver-side twin of :func:`merge_pair_expr` (same semantics,
    pinned equal in tests/test_bpe.py)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def learn_bpe_merges_driver(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_words: int | None = None,
    min_count: int | None = None,
    stats: dict | None = None,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Real-vocab-capable BPE training: ONE Spark pass builds the
    word-frequency table (the only data-scaled stage), which is then
    collected and the merge loop runs driver-side — the classic
    Sennrich setup, where the training state is the vocabulary, not
    the corpus.

    Why this exists alongside :func:`learn_bpe_merges` (the all-Spark
    loop): a production 30k-merge train through the Spark loop is
    ~45k driver-coordinated jobs — hours of pure scheduling overhead
    on vocab-sized frames. Here each merge is O(affected words) of
    pure-python dict updates with a lazy-deletion heap for the argmax,
    so 1000 merges over a 200k-doc vocabulary finish in seconds
    (proved in scale_smoke.py), and the merge sequence is pinned
    identical to the Spark loop's on a shared prefix
    (tests/test_bpe.py).

    ``max_words`` caps the collected vocabulary to the top-N words by
    (count desc, word asc) — the standard frequency-truncation used
    when an open 100 TB corpus would otherwise produce an unbounded
    tail of hapax words (a TakeOrdered top-N, never a global sort).
    ``min_count`` is the complementary frequency FLOOR (drop words
    rarer than the cutoff — by Zipf, ``min_count=2`` alone typically
    halves an open web vocabulary); the two compose, floor first.
    Pass a dict as ``stats`` to receive the truncation record
    ``{words_total, words_kept, words_dropped}`` (costs one extra
    vocab-sized count job, so it's opt-in) — a capped train should
    never silently read as a full one.

    Determinism: identical to the Spark loop — best pair by
    (pair_count desc, left asc, right asc), non-overlapping
    left-to-right rewrite, stop when no pair repeats.

    Returns (merges, final vocab DataFrame(word, cnt, symbols)) — the
    vocab is re-created as a DataFrame (vocab-sized) so apply-path
    consumers are interchangeable with the Spark-loop variant.
    """
    import heapq

    wf = word_freq_symbols(docs, text_col).select("word", "cnt")
    n_total = wf.count() if stats is not None else None
    if min_count is not None:
        wf = wf.filter(F.col("cnt") >= min_count)
    if max_words is not None:
        wf = wf.orderBy(F.col("cnt").desc(), "word").limit(max_words)
    collected = wf.collect()
    if stats is not None:
        stats.update(
            words_total=n_total,
            words_kept=len(collected),
            words_dropped=n_total - len(collected),
        )
    words: list[tuple[tuple[str, ...], int]] = []
    for r in collected:
        chars = list(r["word"])
        chars[-1] = chars[-1] + EOW
        words.append((tuple(chars), int(r["cnt"])))

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, cnt) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            pair_words.setdefault(p, set()).add(wi)
    # lazy-deletion heap: every count change pushes a fresh entry; a
    # popped entry is live only if it matches the dict. Tuple order
    # (-count, left, right) == the Spark loop's orderBy.
    heap = [(-c, p[0], p[1]) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        best: tuple[str, str, int] | None = None
        while heap:
            negc, left, right = heap[0]
            live = pair_counts.get((left, right), 0)
            if -negc == live and live > 0:
                best = (left, right, live)
                break
            heapq.heappop(heap)  # stale
        if best is None or best[2] < 2:
            break
        left, right, cnt = best
        merges.append(best)
        delta: dict[tuple[str, str], int] = {}
        for wi in pair_words.get((left, right), set()).copy():
            syms, wcnt = words[wi]
            new_syms = _ltr_merge(syms, left, right)
            if new_syms == syms:
                continue
            for p in zip(syms, syms[1:]):
                delta[p] = delta.get(p, 0) - wcnt
            for p in zip(new_syms, new_syms[1:]):
                delta[p] = delta.get(p, 0) + wcnt
            for p in set(zip(syms, syms[1:])):
                s = pair_words.get(p)
                if s is not None:
                    s.discard(wi)
            for p in set(zip(new_syms, new_syms[1:])):
                pair_words.setdefault(p, set()).add(wi)
            words[wi] = (new_syms, wcnt)
        for p, d in delta.items():
            if d == 0:
                continue
            c = pair_counts.get(p, 0) + d
            if c <= 0:
                pair_counts.pop(p, None)
            else:
                pair_counts[p] = c
                heapq.heappush(heap, (-c, p[0], p[1]))

    spark = docs.sparkSession
    vocab = local_table(
        spark,
        [(w, c, list(s)) for (s, c), w in zip(words, (r["word"] for r in collected))],
        "word string, cnt long, symbols array<string>",
    )
    return merges, vocab


def learn_bpe_merges(
    docs: DataFrame, num_merges: int, text_col: str = "text"
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``num_merges`` BPE merges; returns (merges, final vocab).

    ``merges`` is ``[(left, right, pair_count), ...]`` in learning
    order. Stops early when no pair repeats (pair_count < 2 would
    only memorize single words)."""
    vocab = word_freq_symbols(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for it in range(num_merges):
        top = (
            pair_counts(vocab)
            .orderBy(
                F.col("pair_count").desc(), F.col("left"), F.col("right")
            )
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < 2:
            break
        left, right, cnt = (
            top[0]["left"],
            top[0]["right"],
            int(top[0]["pair_count"]),
        )
        merges.append((left, right, cnt))
        vocab = vocab.withColumn("symbols", merge_pair_expr(left, right))
        # checkpoint every 2nd merge: lineage depth 2 is safe, and
        # each eager localCheckpoint is a full job — halving them cut
        # the 8-merge train ~25% at sf0.1
        if it % 2 == 1 or it == num_merges - 1:
            vocab = vocab.localCheckpoint(eager=True)
    return merges, vocab
