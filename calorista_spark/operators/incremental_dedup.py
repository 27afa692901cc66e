"""Incremental near-duplicate admission against a PERSISTED signature
index (SURVEY §2.11 L2, the streaming/ingest face).

The batch near-dup pipeline (operators/similarity.py) answers "which
documents in THIS corpus are near-duplicates of each other". A
production ingestion pipeline needs the incremental question instead:
"which documents of this NEW batch duplicate anything already
admitted" — without recomputing signatures for the whole corpus on
every sync. This module keeps the corpus's MinHash signatures in a
:class:`~calorista_spark.sources.commitlog.CommitLogStore` table
``(doc_id, sig array<long>)`` and admits batches against it:

1. signatures: the batch's MinHash signatures are computed once
   (``minhash_signatures``, the same universal-hash family as the
   batch pipeline) and stage-checkpointed.
2. candidates: LSH band keys of the batch are joined against band
   keys DERIVED from the stored signatures (a pure column projection
   over the index — no shingling, no text, no re-hash). The batch
   side is broadcast: at 100 TB the index never shuffles; each index
   partition streams map-side against the (small) batch's band keys.
3. verify: a candidate pair is a duplicate when its signatures agree
   on ``>= threshold`` of the hash positions (the standard unbiased
   Jaccard estimate — no corpus text needed, so the index stays
   signature-only and O(num_hashes · 8 bytes) per admitted doc).
4. admission: a batch doc is ``corpus_dup`` if it verifies against
   any indexed doc, else ``batch_dup`` if it verifies against a
   LOWER-id doc of the same batch (the lowest-id-wins rule of
   ``doc_neardup_dedup_survivors``), else ``admitted``. Admitted
   signatures MERGE into the index keyed by id; passing ``batch_id``
   rides the commit log's replay ledger, so re-running a failed sync
   is exactly-once.

Invariant (tested): no two indexed documents are ever band-candidates
agreeing on ``>= threshold`` positions — each admission proved the
new doc disjoint from the index as of its commit, and the index only
grows.

Reference tie-in: the reference's sync IS an incremental admit — it
fingerprints each day's entries and skips unchanged ones
(main.py:146-161); this is that semantic generalized from exact
fingerprints to near-duplicate signatures.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calorista_spark.catalog import local_table
from calorista_spark.operators.checkpoint import stage_checkpoint
from calorista_spark.operators.similarity import (
    MINHASH_A,
    MINHASH_B,
    minhash_wide,
)
from calorista_spark.sources.commitlog import CommitLogStore

# bumped whenever the signature computation changes incompatibly
# (r12's seed-correlation fix was exactly such a change: same
# parameters, different constants, silently non-matching signatures)
FAMILY_VERSION = 2

_PARAMS_FILE = "_neardup_family.json"


def _constants_digest(num_hashes: int) -> str:
    """Fingerprint of the universal-hash constants actually used for
    the first ``num_hashes`` seeds — catches a constants change even
    when every named parameter is identical (ADVICE r12)."""
    import hashlib

    payload = ",".join(
        f"{MINHASH_A[i]}:{MINHASH_B[i]}" for i in range(num_hashes)
    )
    return hashlib.md5(payload.encode()).hexdigest()[:16]


class NearDupIndex:
    """A persisted MinHash signature index for incremental near-dup
    admission. ``threshold`` is the minimum fraction of agreeing hash
    positions (estimated Jaccard) for a candidate to count as a
    duplicate.

    **Hash-family pinning (r13 — ADVICE r12):** the index stamps its
    parameters (num_hashes, rows_per_band, shingle_n, threshold,
    FAMILY_VERSION, and a digest of the MinHash constants) into
    ``_neardup_family.json`` inside the store on first open and
    VALIDATES them on every subsequent open — opening an index with
    different parameters (or after a constants change like r12's
    seed-correlation fix) raises instead of silently ceasing to match
    true duplicates. A deliberate parameter change goes through
    :meth:`rebuild`.

    **doc_id immutability (r13 — ADVICE r12):** a doc_id is the
    identity of an ADMITTED document; re-ingesting an existing id
    with DIFFERENT text in a new (non-replay) batch is rejected
    (``ValueError``) rather than silently upserting a new signature
    over the old one — an upsert would let docs admitted against the
    old version now near-duplicate the new one, breaking the
    "index never holds near-duplicates" invariant. Replays (same
    ``batch_id`` at or below the ledger's high-water mark) and
    byte-identical resends pass unchanged. Use :meth:`retract` + a
    fresh admit to genuinely replace a document."""

    def __init__(
        self,
        path: str,
        num_hashes: int = 16,
        rows_per_band: int = 4,
        shingle_n: int = 3,
        threshold: float = 0.5,
    ):
        if num_hashes % rows_per_band != 0:
            raise ValueError(
                f"num_hashes={num_hashes} not divisible by "
                f"rows_per_band={rows_per_band}"
            )
        self.store = CommitLogStore(path)
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.shingle_n = shingle_n
        self.threshold = threshold
        self._check_family()

    # -- hash-family pinning ------------------------------------------------

    def _params(self) -> dict:
        return {
            "family_version": FAMILY_VERSION,
            "num_hashes": self.num_hashes,
            "rows_per_band": self.rows_per_band,
            "shingle_n": self.shingle_n,
            "threshold": self.threshold,
            "constants_digest": _constants_digest(self.num_hashes),
        }

    def _stamp_family(self) -> None:
        """Atomically (re)write the family stamp (tmp + rename)."""
        p = os.path.join(self.store.path, _PARAMS_FILE)
        tmp = p + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._params(), fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, p)

    def _check_family(self) -> None:
        p = os.path.join(self.store.path, _PARAMS_FILE)
        if not os.path.exists(p):
            # fresh index — or a pre-r13 store opened for the first
            # time since stamping existed: record THIS opener's
            # parameters so every later open is validated
            self._stamp_family()
            return
        with open(p) as fh:
            stamped = json.load(fh)
        mine = self._params()
        diffs = {
            k: (stamped.get(k), mine[k])
            for k in mine
            if stamped.get(k) != mine[k]
        }
        if diffs:
            raise ValueError(
                "near-dup index parameter mismatch (stored vs "
                f"requested): {diffs}. Signatures persisted under one "
                "hash family do not match those computed under "
                "another; open the index with its stamped parameters "
                "or re-bootstrap via NearDupIndex.rebuild()."
            )

    # -- signature / band plumbing ---------------------------------------

    def wide_signatures(
        self, docs: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        """(id, sig array<long>) — the doc's minhashes in seed order.
        One row per doc; this is the index's storage format. r15: the
        array comes straight off the wide minhash aggregate (one
        groupBy) instead of the long-format unpivot + a second sorted
        collect_list aggregation (guide §2.4)."""
        return minhash_wide(
            docs, id_col, text_col, num_hashes=self.num_hashes,
            n=self.shingle_n,
        )

    def band_keys(self, sigs: DataFrame, id_col: str) -> DataFrame:
        """(id, band, band_key) from wide signatures — a pure column
        projection (map-only, no shuffle), producing keys identical to
        ``lsh_band_keys`` so the two formulations interoperate."""
        rpb = self.rows_per_band
        n_bands = self.num_hashes // rpb
        entries = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice("sig", i * rpb + 1, rpb),
                            lambda m: m.cast("string"),
                        ),
                        "|",
                    ).alias("band_key"),
                )
                for i in range(n_bands)
            ]
        )
        return sigs.select(
            id_col, F.explode(entries).alias("e")
        ).select(id_col, "e.band", "e.band_key")

    def _agreement(self, a, b):
        """Fraction of hash positions on which two signatures agree —
        the unbiased MinHash Jaccard estimate."""
        eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
        return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(
            self.num_hashes
        )

    def index_signatures(self, spark: SparkSession) -> DataFrame:
        """The admitted corpus's (doc_id, sig) snapshot (empty frame
        on a fresh index)."""
        if self.store.latest_version() is None:
            return local_table(
                spark, [], "doc_id long, sig array<bigint>"
            )
        return self.store.read(spark)

    def bootstrap(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_id: int | None = None,
    ) -> None:
        """Index an EXISTING corpus as-is — every signed doc's
        signature merges in with NO admission checks. Use once over an
        already-curated corpus (whose internal near-dups, if any, are
        someone else's decision); subsequent syncs go through
        :meth:`admit`. Idempotent under ``batch_id`` replay."""
        if id_col != "doc_id":
            docs = docs.withColumnRenamed(id_col, "doc_id")
        sigs = self.wide_signatures(docs, "doc_id", text_col)
        self.store.merge(spark, sigs, keys=["doc_id"], batch_id=batch_id)

    def _batch_dups(self, batch_sigs: DataFrame, bb: DataFrame) -> DataFrame:
        """Within-batch losers of the lowest-id-wins signature rule:
        docs whose signature agrees on >= threshold positions with a
        LOWER-id doc of the same batch. Shared by :meth:`admit` (the
        batch face) and :meth:`rebuild` (the whole corpus is one
        batch)."""
        ba = bb.select(
            F.col("doc_id").alias("id_a"), "band", "band_key"
        )
        cand_nn = (
            ba.join(
                bb.withColumnRenamed("doc_id", "id_b").hint(
                    "shuffle_hash"
                ),
                ["band", "band_key"],
            )
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        agree_nn = (
            cand_nn.join(
                batch_sigs.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("sig").alias("sig_a"),
                ).hint("shuffle_hash"),
                "id_a",
            )
            .join(
                batch_sigs.select(
                    F.col("doc_id").alias("id_b"),
                    F.col("sig").alias("sig_b"),
                ).hint("shuffle_hash"),
                "id_b",
            )
            .where(
                self._agreement(F.col("sig_a"), F.col("sig_b"))
                >= F.lit(self.threshold)
            )
        )
        return agree_nn.select(
            F.col("id_b").alias("doc_id")
        ).distinct()

    # -- admission --------------------------------------------------------

    def admit(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_id: int | None = None,
    ) -> DataFrame:
        """Admit a batch against the index; returns the per-doc report
        ``(id, status)`` with status in {admitted, corpus_dup,
        batch_dup} and merges admitted signatures into the index
        (exactly-once under ``batch_id`` replay).

        The report is computed BEFORE the index commit, so a replayed
        batch (batch_id <= the ledger's high-water mark) still returns
        the same report while the merge is skipped.
        """
        if id_col != "doc_id":
            docs = docs.withColumnRenamed(id_col, "doc_id")
        batch_sigs = stage_checkpoint(
            self.wide_signatures(docs, "doc_id", text_col), eager=True
        )
        bb = self.band_keys(batch_sigs, "doc_id")
        corpus_sigs = self.index_signatures(spark)
        cb = self.band_keys(corpus_sigs, "doc_id")

        # doc_id immutability (ADVICE r12): in a NEW batch (not a
        # ledger replay), an id the index already holds must carry a
        # byte-identical signature — a changed doc under a reused id
        # would silently upsert over the old signature and void the
        # no-near-dups invariant for docs admitted against it. One
        # extra map-side pass: the index streams against the
        # broadcast batch exactly like the band join below.
        last = self.store.last_batch_id()
        is_replay = (
            batch_id is not None
            and last is not None
            and batch_id <= last
        )
        if not is_replay:
            changed = (
                corpus_sigs.join(
                    F.broadcast(
                        batch_sigs.select(
                            "doc_id", F.col("sig").alias("sig_new")
                        )
                    ),
                    "doc_id",
                )
                .where(F.col("sig") != F.col("sig_new"))
                .select("doc_id")
                .limit(5)
                .collect()
            )
            if changed:
                ids = sorted(r.doc_id for r in changed)
                raise ValueError(
                    f"doc_ids {ids} are already indexed with DIFFERENT "
                    "text: doc_ids are immutable once admitted. "
                    "retract() the old documents first, or assign "
                    "fresh ids."
                )

        # corpus face: index streams against the BROADCAST batch —
        # never shuffles, never re-reads text
        cand_cn = (
            cb.withColumnRenamed("doc_id", "id_i")
            .join(
                F.broadcast(bb.withColumnRenamed("doc_id", "id_b")),
                ["band", "band_key"],
            )
            # self-exclusion: a REPLAYED batch's docs are already in
            # the index under their own ids — matching themselves
            # would flip their status to corpus_dup on the second run,
            # breaking report idempotence under replay
            .where(F.col("id_i") != F.col("id_b"))
            .select("id_i", "id_b")
            .distinct()
        )
        # strategies pinned batch-side-broadcast so the plan (and its
        # shuffle volume) is identical at every corpus scale: the
        # candidate set is O(batch × matches) by the band join's
        # construction, and the index side again streams map-side
        agree_cn = (
            corpus_sigs.select(
                F.col("doc_id").alias("id_i"),
                F.col("sig").alias("sig_i"),
            )
            .join(F.broadcast(cand_cn), "id_i")
            .join(
                F.broadcast(
                    batch_sigs.select(
                        F.col("doc_id").alias("id_b"),
                        F.col("sig").alias("sig_b"),
                    )
                ),
                "id_b",
            )
            .where(
                self._agreement(F.col("sig_i"), F.col("sig_b"))
                >= F.lit(self.threshold)
            )
        )
        corpus_dups = agree_cn.select(
            F.col("id_b").alias("doc_id")
        ).distinct()

        # batch face: lowest-id-wins within the batch (the
        # doc_neardup_dedup_survivors rule)
        batch_dups = self._batch_dups(batch_sigs, bb)

        # report base = EVERY batch doc: a doc with < shingle_n words
        # has no shingles, hence no signature row — by the corpus
        # convention (empty shingle set ≡ nothing to collide on) it is
        # admitted but never indexed
        report = (
            docs.select("doc_id")
            .distinct()
            .join(
                F.broadcast(corpus_dups.withColumn("__c", F.lit(1))),
                "doc_id",
                "left",
            )
            .join(
                F.broadcast(batch_dups.withColumn("__b", F.lit(1))),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.when(F.col("__c").isNotNull(), F.lit("corpus_dup"))
                .when(F.col("__b").isNotNull(), F.lit("batch_dup"))
                .otherwise(F.lit("admitted"))
                .alias("status"),
            )
        )
        report = stage_checkpoint(report, eager=True)

        admitted_sigs = batch_sigs.join(
            F.broadcast(
                report.where(F.col("status") == "admitted").select(
                    "doc_id"
                )
            ),
            "doc_id",
        )
        self.store.merge(
            spark, admitted_sigs, keys=["doc_id"], batch_id=batch_id
        )
        return report

    # -- maintenance (r13 — VERDICT r12 #8) ---------------------------------

    def retract(self, spark: SparkSession, doc_ids) -> int:
        """Remove retracted documents' signatures (takedown / GDPR /
        curation reversal) via the table format's own DML — a
        merge-on-read delete (deletion vectors), so retraction cost is
        O(touched files), not a table rewrite. Returns the new index
        version. NOTE: docs previously REJECTED against a retracted
        doc are not re-admitted retroactively — re-offer them in a
        later batch if desired (the index no longer blocks them).

        ``doc_ids`` is a driver-side id list (maintenance-op sized,
        like the table format's other predicate faces)."""
        ids = sorted(int(i) for i in doc_ids)
        if not ids:
            return self.store.latest_version()
        return self.store.delete_where(
            spark, [("doc_id", "in", ids)], cow_threshold=None
        )

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        dv_fraction: float = 0.1,
    ) -> int:
        """Index housekeeping: physically purge retracted signatures
        whose deletion-vector mass passed ``dv_fraction`` (the
        difference between retracted and ERASED), then bin-pack the
        small per-batch files admission accretes into
        ``target_file_bytes`` files. Returns the final version."""
        self.store.purge_dv(spark, dv_fraction=dv_fraction)
        self.store.compact(spark, target_file_bytes=target_file_bytes)
        return self.store.latest_version()

    def rebuild(
        self,
        spark: SparkSession,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        *,
        num_hashes: int | None = None,
        rows_per_band: int | None = None,
        shingle_n: int | None = None,
        threshold: float | None = None,
    ) -> DataFrame:
        """Re-bootstrap the index from the corpus under (possibly)
        CHANGED family parameters — the documented path when
        ``num_hashes``/``threshold``/constants change would otherwise
        trip :meth:`_check_family`. The corpus is processed as one
        batch against an empty index (the lowest-id-wins signature
        rule of the batch face), the survivors' signatures REPLACE the
        store contents in one overwrite commit, and the family stamp
        is rewritten. The replay ledger survives, so previously
        processed batch_ids still skip. Returns the per-doc report
        ``(doc_id, status)`` with status in {admitted, batch_dup}."""
        if num_hashes is not None:
            self.num_hashes = num_hashes
        if rows_per_band is not None:
            self.rows_per_band = rows_per_band
        if shingle_n is not None:
            self.shingle_n = shingle_n
        if threshold is not None:
            self.threshold = threshold
        if self.num_hashes % self.rows_per_band != 0:
            raise ValueError(
                f"num_hashes={self.num_hashes} not divisible by "
                f"rows_per_band={self.rows_per_band}"
            )
        if id_col != "doc_id":
            docs = docs.withColumnRenamed(id_col, "doc_id")
        sigs = stage_checkpoint(
            self.wide_signatures(docs, "doc_id", text_col), eager=True
        )
        dups = self._batch_dups(sigs, self.band_keys(sigs, "doc_id"))
        survivors = sigs.join(F.broadcast(dups), "doc_id", "left_anti")
        # keys metadata must survive the overwrite: CDF classification
        # (read_changes) over a range crossing the rebuild version
        # raises 'records no merge keys' otherwise (ADVICE r13)
        self.store.commit(
            survivors,
            op="overwrite",
            expect_version=self.store.latest_version(),
            keys=["doc_id"],
        )
        self._stamp_family()
        return (
            docs.select("doc_id")
            .distinct()
            .join(
                F.broadcast(dups.withColumn("__d", F.lit(1))),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.when(F.col("__d").isNotNull(), F.lit("batch_dup"))
                .otherwise(F.lit("admitted"))
                .alias("status"),
            )
        )


def start_neardup_admission(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    admitted_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    on_batch=None,
):
    """Streaming near-dup admission (ST × L2): ``foreachBatch`` admits
    each micro-batch against the persisted signature index with
    ``batch_id`` = the epoch id, so exactly-once across crash/restart
    is the commit ledger's replay skip — the streaming twin of
    :func:`~calorista_spark.sources.commitlog.start_commitlog_cdc_merge`.

    ``admitted_path`` (optional) additionally lands the SURVIVING
    documents (full rows) in a second commit-log store under the same
    batch_id ledger — the deduplicated corpus table a training
    pipeline reads. Crash between the two commits is safe: on replay
    the index merge is skipped by its ledger while the doc merge
    applies, and the ADMITTED SET is replay-stable (a doc the index
    already holds can't re-admit thanks to self-exclusion; a dropped
    doc stays dropped, though its dup label may shift from batch_dup
    to corpus_dup once its within-batch keeper is indexed)."""

    def _admit(batch: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_id)
        spark = batch.sparkSession
        idx = NearDupIndex(
            index_path,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            shingle_n=shingle_n,
            threshold=threshold,
        )
        report = idx.admit(
            spark, batch, id_col=id_col, text_col=text_col,
            batch_id=batch_id,
        )
        if admitted_path is not None:
            docs = batch
            if id_col != "doc_id":
                docs = docs.withColumnRenamed(id_col, "doc_id")
            admitted = docs.join(
                report.where(F.col("status") == "admitted").select(
                    "doc_id"
                ),
                "doc_id",
            )
            CommitLogStore(admitted_path).merge(
                spark, admitted, keys=["doc_id"], batch_id=batch_id
            )

    writer = stream.writeStream.foreachBatch(_admit).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
