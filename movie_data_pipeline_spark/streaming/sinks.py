"""Streaming sinks beyond the built-ins: ``foreachBatch`` writers for a
keyed upsert table, versioned appends, a drift log, and the near-
duplicate ingest gate.

Upsert sink. Structured Streaming's file sink is append-only;
maintaining a *keyed* table (latest row per key) needs MERGE. Without
a table format the row semantics come from :func:`operators.merge.
upsert`: each micro-batch's rows replace key-matched rows and insert
the rest. ``foreachBatch`` is at-least-once and the upsert idempotent
per (key, value), so replays converge. The merged frame is
materialized (``localCheckpoint``) BEFORE the overwrite — the plan
reads the files the write replaces, and overwriting a lazily-read
input is the classic self-overwrite corruption. At scale the table is
partitioned and overwritten per touched partition (operators/merge.py).

Ingest gate. The continuous-crawl front door of an LLM data pipeline:
every micro-batch of ``(doc_id, text, ...)`` documents is fingerprinted,
checked against a stored band index of the accepted corpus, and only
novel documents are committed; the index grows by exactly the accepted
documents' band rows. Two fingerprint families share one protocol
(:func:`_gate_writer`) and differ only in how they sign a batch, band
it, pair it, join it to the index, and what they pin in the index
manifest: MinHash (:func:`dedup_gate_batch_writer`) and 60-bit SimHash
(:func:`simhash_gate_batch_writer`). Per batch, each step once:

1. an emptiness probe (an empty batch commits nothing);
2. one read of the index head (version + manifest ``meta``); the
   batch's family is resolved from it and the ``bucket_k`` partition
   layout checked against it;
3. the fingerprint frame is persisted and counted;
4. within-batch keep-first: of every colliding pair the higher doc_id
   is dropped (greedy min-representative — deterministic, and
   transitively safe because the kept minimum is itself checked
   against the corpus);
5. corpus check: the family validates the parameters it pinned in
   ``meta``, then the batch's band rows ⋈ the stored index are
   anti-joined out of the survivors (the corpus is never re-
   fingerprinted);
6. the survivors are persisted and counted (zero → no commit);
7. replay anti-join against the accepted table's ``doc_id`` column;
8. docs-first commit: new documents append to ``accepted_path``, THEN
   the survivors' band rows append to ``index_path`` (bucketed by
   ``id mod bucket_k`` when the index is partitioned), with the
   family's manifest properties.

Commit ordering is documents-first: a crash between the two commits
can leave accepted docs unindexed (a later duplicate may slip through
— benign, dedup is best-effort at at-least-once delivery), never the
reverse (index-first would permanently reject content that was never
stored). Both commits are snapshot-isolated appends on
:class:`VersionedTable`. Replay idempotency does not rely on the index
alone: after such a crash the replayed batch finds the index
unchanged, so step 7 keeps already-landed documents from appending
twice, and the replay's index commit back-fills their band rows.

The ``recommended_*`` writers resolve the family from the index
manifest (or measure it on a fresh index) inside that same one head
read, then run the same protocol.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from movie_data_pipeline_spark.operators.dedup import (
    band_signatures,
    index_bucket,
    lsh_candidate_pairs_wide,
    measure_balanced_bit_blocks,
    measure_center_thresholds,
    minhash_signatures_wide,
    simhash,
    simhash_band_rows,
    simhash_centered_pinned,
    simhash_hamming_pairs,
    stored_simhash_rung,
)
from movie_data_pipeline_spark.operators.merge import upsert
from movie_data_pipeline_spark.sources.versioned import VersionedTable

RECOMMENDED_INDEX_BUCKET_K = 64


def _start(
    df: DataFrame,
    writer: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_available_now: bool = True,
    output_mode: str = "append",
) -> StreamingQuery:
    """Run ``writer`` as the stream's foreachBatch sink."""
    stream = (
        df.writeStream.foreachBatch(writer)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()


def upsert_batch_writer(
    path: str, keys: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """The per-micro-batch MERGE: returns the function ``foreachBatch``
    invokes with (batch_df, batch_id). Exposed separately so tests can
    drive it with hand-built batches."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            existing = spark.read.parquet(path)
        except AnalysisException:  # first batch: table does not exist yet
            existing = None
        merged = (
            batch_df
            if existing is None
            else upsert(existing, batch_df, keys)
        )
        # Materialize before overwriting the files the plan reads.
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)

    return _apply


def start_upsert_stream(
    updates: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
) -> StreamingQuery:
    """Continuously maintain a keyed parquet table from a streaming
    update-mode DataFrame (e.g. a watermarked aggregation)."""
    return _start(
        updates, upsert_batch_writer(path, keys), checkpoint,
        output_mode="update",
    )


def versioned_append_writer(
    table_path: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer that lands every micro-batch as an APPEND
    commit on a :class:`sources.versioned.VersionedTable` — streaming
    ingestion with snapshot isolation and time travel, no table format.

    Semantics: readers only ever see manifest-committed snapshots, so a
    crash mid-batch leaves at worst an orphan data dir (cleaned by
    vacuum), never a torn table. foreachBatch is at-least-once; a
    replayed batch appends twice, so exactly-once EFFECTS need either
    the keyed upsert sink above or a batch_id high-water mark stored in
    the manifest — both documented trade-offs of real lakehouse sinks.
    A CommitConflict (concurrent writer) is re-raised: the streaming
    query fails fast rather than silently dropping a batch; restart
    resumes from the checkpoint and retries on the new head.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        VersionedTable(table_path).commit(batch_df, mode="append")

    return _apply


def start_versioned_append_stream(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Stream → versioned table: each micro-batch is one append commit."""
    return _start(
        df, versioned_append_writer(table_path), checkpoint,
        trigger_available_now,
    )


@dataclass(frozen=True)
class _MinHash:
    """16-hash MinHash signatures; index rows ``(doc_id, band,
    band_sig)``, corpus check = the (band, band_sig) equi-join of
    ``operators.dedup.incremental_lsh_matches``. No pinned parameters
    beyond the bucket layout."""

    bucket_k: int | None

    def validate(self, meta: dict, index: DataFrame, path: str) -> None:
        pass

    def sign(self, docs: DataFrame) -> DataFrame:
        return minhash_signatures_wide(docs)

    def bands(self, sigs: DataFrame) -> DataFrame:
        return band_signatures(sigs)

    def batch_pairs(self, sigs: DataFrame) -> DataFrame:
        return lsh_candidate_pairs_wide(sigs)

    def corpus_hits(self, bands: DataFrame, index: DataFrame) -> DataFrame:
        stored = index.select("band", "band_sig")
        return bands.join(stored, ["band", "band_sig"])

    def meta(self) -> dict:
        return {}


@dataclass(frozen=True)
class _SimHash:
    """60-bit SimHash fingerprints (one BIGINT per doc); index rows
    ``(doc_id, simhash, band_idx, band_val, rung)``. Banding only
    generates candidates: pairs and corpus hits are verified by exact
    XOR-popcount ≤ ``max_hamming`` against the original fingerprints
    (permutation-invariant, so ``bit_blocks`` moves only the band-
    collision floor). ``thresholds`` set = the centered operator family
    with pinned per-bit thresholds; None = zero threshold."""

    rung: int
    max_hamming: int
    bit_blocks: list[int] | None
    bucket_k: int | None
    thresholds: dict | None

    def validate(self, meta: dict, index: DataFrame, path: str) -> None:
        # Band rows written under a different rung or bit assignment
        # never join this writer's batches — duplicates of indexed docs
        # would silently pass — so a mismatch fails loudly instead.
        stored = stored_simhash_rung(meta, index, path)
        if stored is not None and stored != self.rung:
            raise ValueError(
                f"simhash gate: index at {path} was built at rung "
                f"{stored} but this writer is pinned to rung {self.rung}; "
                "migrate the index (re-band its stored fingerprints — "
                "operators/index_lifecycle.migrate_simhash_index) or pin "
                "the matching rung"
            )
        if "simhash_rung" not in meta:
            return  # a pre-meta index predates permuted and centered builds
        if meta.get("simhash_bit_blocks") != self.bit_blocks:
            raise ValueError(
                f"simhash gate: index at {path} was banded under bit "
                f"assignment {meta.get('simhash_bit_blocks')} but this "
                f"writer is pinned to {self.bit_blocks}; migrate the index "
                "(operators/index_lifecycle.migrate_simhash_index with "
                "bit_blocks) or pin the matching assignment"
            )
        spaces = ("zero-threshold", "centered")
        stored_centered = "simhash_center_s" in meta
        if stored_centered != (self.thresholds is not None):
            raise ValueError(
                f"simhash gate: index at {path} holds "
                f"{spaces[stored_centered]} fingerprints but this writer "
                f"is {spaces[self.thresholds is not None]}; the two "
                "fingerprint spaces never match — rebuild the index or "
                "match the writer"
            )

    def sign(self, docs: DataFrame) -> DataFrame:
        if self.thresholds is None:
            return simhash(docs)
        return simhash_centered_pinned(docs, self.thresholds)

    def bands(self, fp: DataFrame) -> DataFrame:
        return simhash_band_rows(
            fp, rung=self.rung, bit_blocks=self.bit_blocks
        ).withColumn("rung", F.lit(int(self.rung)))

    def batch_pairs(self, fp: DataFrame) -> DataFrame:
        return simhash_hamming_pairs(
            fp, max_hamming=self.max_hamming, rung=self.rung,
            bit_blocks=self.bit_blocks,
        )

    def corpus_hits(self, bands: DataFrame, index: DataFrame) -> DataFrame:
        stored = index.select(
            "band_idx", "band_val", F.col("simhash").alias("idx_simhash")
        )
        return bands.join(stored, ["band_idx", "band_val"]).filter(
            F.expr(
                "CAST(bit_count(simhash ^ idx_simhash) AS BIGINT)"
                f" <= {int(self.max_hamming)}"
            )
        )

    def meta(self) -> dict:
        out = {
            "simhash_rung": int(self.rung),
            "simhash_bit_blocks": self.bit_blocks,
        }
        if self.thresholds is not None:
            out["simhash_center_s"] = [int(x) for x in self.thresholds["s"]]
            out["simhash_center_n"] = int(self.thresholds["n"])
        return out


def _pinned_thresholds(meta: dict) -> dict | None:
    """The centered thresholds an index pinned, None if it has none."""
    if "simhash_center_s" not in meta:
        return None
    return {"s": meta["simhash_center_s"], "n": meta["simhash_center_n"]}


def _gate_writer(
    accepted_path: str,
    index_path: str,
    resolve: Callable[[DataFrame, dict | None], _MinHash | _SimHash],
) -> Callable[[DataFrame, int], None]:
    """The ingest-gate protocol (module docstring), once for every
    family. ``resolve(batch, meta)`` picks the batch's family from the
    index head's manifest ``meta`` (None on a fresh index); the family
    validates the rest of that meta."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        index = VersionedTable(index_path)
        head = index.current_version()
        meta = None
        if head is not None:
            meta = index.manifest(head).get("meta") or {}
        family = resolve(batch_df, meta)
        if meta is not None and meta.get("bucket_k") != family.bucket_k:
            raise ValueError(
                f"gate: index at {index_path} uses bucket layout "
                f"k={meta.get('bucket_k')} but this writer is pinned to "
                f"k={family.bucket_k}; appending under a different layout "
                "would tear the partitioned table"
            )

        fp = family.sign(batch_df).persist()
        try:
            # Materialize the fingerprint cache BEFORE the multi-leaf
            # consumers: the within-batch pair self-join and the corpus
            # check scan fp at several plan leaves inside one job — on
            # a cold cache those leaves race and each recomputes the
            # signing subtree (measured 2-3x the batch cost at sf0.1).
            fp.count()
            bands = family.bands(fp)
            batch_dupes = (
                family.batch_pairs(fp)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
            )
            survivors = batch_df.join(batch_dupes, "doc_id", "left_anti")
            if meta is not None:
                stored = index.read(spark, head)
                family.validate(meta, stored, index_path)
                hits = family.corpus_hits(bands, stored).select("doc_id")
                survivors = survivors.join(
                    hits.distinct(), "doc_id", "left_anti"
                )
            survivors = survivors.persist()
            try:
                # count() instead of isEmpty(): the guard is needed
                # either way, and a full count fills the survivors
                # cache, so the replay anti-join, the docs commit and
                # the index semi-join read blocks instead of recomputing
                # the partitions an early-exit probe never touched.
                if survivors.count() == 0:
                    return
                accepted = VersionedTable(accepted_path)
                new_docs = survivors
                if accepted.current_version() is not None:
                    # Persisted across the emptiness probe + commit,
                    # which would otherwise each re-read the accepted
                    # doc_id column.
                    landed = accepted.read(spark).select("doc_id")
                    new_docs = survivors.join(
                        landed, "doc_id", "left_anti"
                    ).persist()
                try:
                    if not new_docs.isEmpty():
                        accepted.commit(new_docs, mode="append")
                finally:
                    if new_docs is not survivors:
                        new_docs.unpersist()
                rows = bands.join(
                    survivors.select("doc_id"), "doc_id", "left_semi"
                )
                idx_meta = family.meta()
                if family.bucket_k is not None:
                    # Bucket-keyed REBALANCE: one file per bucket per
                    # append (unclustered, every task writes a file into
                    # every bucket it touches), while AQE sizes the
                    # exchange — a tiny batch coalesces to few tasks
                    # instead of k near-empty ones, and an oversized
                    # bucket splits into advisory-sized files at scale.
                    rows = rows.withColumn(
                        "pbucket", index_bucket("doc_id", family.bucket_k)
                    ).hint("rebalance", "pbucket")
                    idx_meta["partition_by"] = "pbucket"
                    idx_meta["bucket_k"] = int(family.bucket_k)
                # meta=None inherits the head's properties (MinHash,
                # unbucketed); a dict pins the family's layout.
                index.commit(rows, mode="append", meta=idx_meta or None)
            finally:
                survivors.unpersist()
        finally:
            fp.unpersist()

    return _apply


def dedup_gate_batch_writer(
    accepted_path: str,
    index_path: str,
    index_bucket_k: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer for the MinHash ingest gate (protocol in the
    module docstring): ``minhash_signatures_wide`` signs the batch (16
    hashes, one pass), ``lsh_candidate_pairs_wide`` gives the within-
    batch pairs, and the batch's band signatures ⋈ the stored index on
    (band, band_sig) is the corpus check. The replay check reads only
    the accepted table's ``doc_id`` column (column-pruned at the
    parquet scan; at corpus scale it is a bloom-filter or key-manifest
    lookup).

    ``index_bucket_k`` writes the index Hive-partitioned by
    ``doc_id mod k`` so erasure scrubs prune to touched buckets; it is
    pinned in the manifest and a writer with another layout raises.
    """
    family = _MinHash(index_bucket_k)
    return _gate_writer(accepted_path, index_path, lambda b, m: family)


def start_dedup_gate_stream(
    docs: DataFrame,
    accepted_path: str,
    index_path: str,
    checkpoint: str,
    index_bucket_k: int | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Document stream → near-dup-gated versioned corpus + LSH index."""
    writer = dedup_gate_batch_writer(
        accepted_path, index_path, index_bucket_k=index_bucket_k
    )
    return _start(docs, writer, checkpoint, trigger_available_now)


def mix_drift_batch_writer(
    baseline: DataFrame,
    out_path: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer scoring every micro-batch's event-type mix
    against a precomputed baseline distribution with a chi-square
    goodness-of-fit statistic — q157's drift monitor moved onto the
    stream, where it belongs operationally (you want the alarm DURING
    ingestion, not at the next batch audit).

    ``baseline`` is a static (event_type, share) frame (shares sum to
    1) computed once from history; it is collected to a plain dict at
    writer-construction time (|types| rows — metadata, same licence as
    the IVF codebook) so each micro-batch pays one aggregate and zero
    joins. Per batch: observed counts, expected = share * n_batch,
    chi2 = sum (obs-exp)^2 / exp over baseline types (types unseen in
    the baseline contribute their own alarm column instead of a
    division by zero). One (batch_id, n_events, chi2, n_novel_types)
    row appends to ``out_path`` — the monitoring log a dashboard tails.
    """
    rows = baseline.select("event_type", "share").collect()
    shares = {r["event_type"]: float(r["share"]) for r in rows}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        counts = {
            r["event_type"]: r["cnt"]
            for r in batch_df.groupBy("event_type")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        n = sum(counts.values())
        chi2 = 0.0
        # sorted: a fixed summation order makes chi2 bit-deterministic
        # across runs (dict order follows collect order otherwise)
        for t, share in sorted(shares.items()):
            exp = share * n
            if exp > 0:
                obs = counts.get(t, 0)
                chi2 += (obs - exp) * (obs - exp) / exp
        n_novel = sum(1 for t in counts if t not in shares)
        spark.createDataFrame(
            [(batch_id, n, chi2, n_novel)],
            "batch_id LONG, n_events LONG, chi2 DOUBLE, n_novel_types LONG",
        ).coalesce(1).write.mode("append").parquet(out_path)

    return _apply


def start_mix_drift_stream(
    events: DataFrame,
    baseline: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Event stream → per-micro-batch chi-square drift log."""
    return _start(
        events, mix_drift_batch_writer(baseline, out_path), checkpoint,
        trigger_available_now,
    )


def simhash_gate_batch_writer(
    accepted_path: str,
    index_path: str,
    rung: int = 1,
    max_hamming: int = 5,
    bit_blocks: list[int] | None = None,
    index_bucket_k: int | None = None,
    centered: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer for the SimHash ingest gate (protocol in the
    module docstring) — the MinHash gate's contract on the 60-bit
    fingerprint index: 1 BIGINT per doc instead of a 16-hash signature.
    Within-batch pairs are ``simhash_hamming_pairs`` at the pinned
    ``rung`` (Hamming ≤ ``max_hamming``); the corpus check is the
    batch's band rows ⋈ the index on (band_idx, band_val), then exact
    XOR-popcount ≤ ``max_hamming`` against the indexed fingerprint.

    Every family parameter is an INDEX-BUILD parameter, pinned in the
    manifest by each commit and validated against it on every batch
    (one JSON read, no index scan); a restarted writer that disagrees
    raises instead of silently accepting duplicates:

    - ``rung`` (``meta.simhash_rung``, also a column of every row):
      band rows from different rungs never join (band_idx is globally
      unique per rung — operators/dedup.simhash_band_combos), so
      banding each batch by its own size would stop matching the
      index. Size it for the TARGET corpus (rung 3 carries ~10^9 docs
      at ~8 collisions/band); migrate with :func:`operators.
      index_lifecycle.migrate_simhash_index` (map-only re-band). An
      index committed before manifests carried ``meta`` is validated
      by a min/max over its rung column instead.
    - ``bit_blocks`` (``meta.simhash_bit_blocks``): the entropy-
      balanced banding permutation (operators/dedup.
      balanced_bit_blocks) the band rows were built under.
    - ``centered`` (``meta.simhash_center_s/n``): fingerprint with the
      CENTERED family. The first batch of a fresh index measures the
      per-bit thresholds (operators/dedup.measure_center_thresholds)
      and the first commit pins them; every later batch fingerprints
      against the pinned thresholds, so all fingerprints share one
      space (re-measuring per batch would fork it). Centering keeps the
      band floor near uniform on template corpora (q305/q306: skew
      inflation ~1x vs 404x) at the cost that the thresholds are frozen
      corpus statistics — re-center by re-fingerprinting, or rescue a
      zero-threshold index map-only with ``bit_blocks``.
    - ``index_bucket_k``: the bucketed partition layout, as in
      :func:`dedup_gate_batch_writer`.
    """
    blocks = None if bit_blocks is None else [int(b) for b in bit_blocks]

    def resolve(batch_df: DataFrame, meta: dict | None) -> _SimHash:
        thresholds = None
        if centered:
            if meta is None:  # index build: measured once, pinned by the commit
                thresholds = measure_center_thresholds(batch_df)
            else:
                thresholds = _pinned_thresholds(meta)
            if thresholds is None:
                # Re-measuring here would fingerprint each batch in its
                # own space — duplicates of indexed docs would pass.
                raise ValueError(
                    f"simhash gate: index at {index_path} has committed "
                    "versions but no pinned centered thresholds "
                    "(simhash_center_s) — it was not built centered and "
                    "the two fingerprint spaces never match; rebuild the "
                    "index centered or run this writer with centered=False"
                )
        return _SimHash(
            int(rung), max_hamming, blocks, index_bucket_k, thresholds
        )

    return _gate_writer(accepted_path, index_path, resolve)


def recommended_simhash_gate_batch_writer(
    accepted_path: str,
    index_path: str,
    rung: int = 1,
    max_hamming: int = 5,
    index_bucket_k: int = RECOMMENDED_INDEX_BUCKET_K,
) -> Callable[[DataFrame, int], None]:
    """The DEFAULT build path for a NEW SimHash gate index: every scale
    mitigation is applied with zero tuning arguments.

    On a FRESH index (no committed version) the first batch measures
    and the first commit pins the full recommended layout:

    - **centered fingerprints** (``simhash_center_s/n``; q306: band-
      collision skew inflation ~1x vs 404x raw);
    - **entropy-balanced banding** (``simhash_bit_blocks`` measured over
      the first batch's centered fingerprints — insurance against
      template-burst skew the centering can't see, q304);
    - **bucketed partition layout** (``bucket_k`` — erasure scrubs and
      deletes prune to touched buckets, q308: 115x less write volume).

    On an EXISTING index the entire configuration is adopted from the
    manifest — rung, banding assignment, bucket layout, centered
    thresholds — so a restarted writer needs no arguments and can never
    fail its own index's validation. A pre-meta legacy index has no
    stored configuration to adopt and raises (use the explicit
    :func:`simhash_gate_batch_writer`). ``rung``/``index_bucket_k`` only
    shape a FRESH build.

    Measurement cost: one 61-sum aggregate + one fingerprint pass on
    the first batch only.
    """

    def resolve(batch_df: DataFrame, meta: dict | None) -> _SimHash:
        if meta is None:
            thresholds = measure_center_thresholds(batch_df)
            blocks = measure_balanced_bit_blocks(
                simhash_centered_pinned(batch_df, thresholds)
            )
            return _SimHash(
                int(rung), max_hamming, blocks, int(index_bucket_k),
                thresholds,
            )
        if "simhash_rung" not in meta:
            raise ValueError(
                f"recommended simhash gate: index at {index_path} is a "
                "legacy pre-meta index with no stored configuration to "
                "adopt — use simhash_gate_batch_writer with explicit "
                "arguments or migrate the index first"
            )
        return _SimHash(
            int(meta["simhash_rung"]),
            max_hamming,
            meta.get("simhash_bit_blocks"),
            meta.get("bucket_k"),
            _pinned_thresholds(meta),
        )

    return _gate_writer(accepted_path, index_path, resolve)


def start_recommended_simhash_gate_stream(
    docs: DataFrame,
    accepted_path: str,
    index_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Document stream → SimHash-gated corpus + index under the
    recommended scale-safe layout, zero tuning arguments."""
    writer = recommended_simhash_gate_batch_writer(accepted_path, index_path)
    return _start(docs, writer, checkpoint, trigger_available_now)


def recommended_dedup_gate_batch_writer(
    accepted_path: str,
    index_path: str,
    index_bucket_k: int = RECOMMENDED_INDEX_BUCKET_K,
) -> Callable[[DataFrame, int], None]:
    """Recommended MinHash gate: a fresh index gets the bucketed
    partition layout (pruned erasure scrubs); an existing index's
    layout is adopted from its manifest (an unbucketed one stays
    unbucketed), so a restarted writer needs no arguments. The MinHash
    family has no centered/banding axis — bucket layout is its one
    scale knob."""

    def resolve(batch_df: DataFrame, meta: dict | None) -> _MinHash:
        if meta is None:
            return _MinHash(int(index_bucket_k))
        return _MinHash(meta.get("bucket_k"))

    return _gate_writer(accepted_path, index_path, resolve)


def start_simhash_gate_stream(
    docs: DataFrame,
    accepted_path: str,
    index_path: str,
    checkpoint: str,
    rung: int = 1,
    bit_blocks: list[int] | None = None,
    index_bucket_k: int | None = None,
    centered: bool = False,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Document stream → SimHash-gated versioned corpus + band index."""
    writer = simhash_gate_batch_writer(
        accepted_path, index_path, rung=rung, bit_blocks=bit_blocks,
        index_bucket_k=index_bucket_k, centered=centered,
    )
    return _start(docs, writer, checkpoint, trigger_available_now)
