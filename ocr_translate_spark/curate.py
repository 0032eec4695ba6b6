"""End-to-end training-data curation pipeline: the composition a user of
the extraction engine actually runs between "raw extracted pages" and
"tokenizer-ready corpus".

Stage order follows the published pipelines (C4 -> Gopher -> RefinedWeb /
FineWeb all converge on roughly this sequence — each stage removes mass
the later, more expensive stages would otherwise pay for):

1. quality gate        — Gopher rule battery (narrow map, scan speed)
2. line dedup          — corpus-frequency boilerplate-line removal (C4)
3. PII scrub           — email/phone redaction (narrow map)
4. exact dedup         — one doc per identical text (md5 group, min id)
5. near dedup          — MinHash-LSH candidates, greedy keep-smallest-id
6. decontamination     — 13-gram overlap vs an eval suite (optional)
7. split + length gate — salted-hash train/val; post-clean min length

Every stage is one of the §2 / LLM-pipeline operators with its own
driver oracle; this module only composes them, adds the keeper policy,
and returns per-stage counts so a run is auditable (the analog of the
extraction pipeline's metrics lineage).  Stages LABEL rows instead of
filtering them: a decision frame keeps every input row with the first
stage that rejected it, and one observation at its root counts them all.

Near-dedup keeper policy: a candidate pair (a, b) with
``est_jaccard >= near_threshold`` (a < b by construction) drops ``b`` —
the standard greedy "keep first" web-dedup policy (equivalent to one
step of min-id label propagation; transitive chains collapse to their
minimum over repeated runs, and at one pass no surviving pair is a
near-dup).  One distinct + one broadcast-able anti-join — no iterative
connected components on the hot path.

Scale notes: stages 1-3 and 7 are shuffle-free narrow maps; stage 4 is
one hash shuffle on md5; stage 5 is the banded LSH join (payload-light,
probed at 200k docs — see BENCH/BASELINE.md); stage 6's build side is
the eval suite's distinct gram hashes.  Stage order puts the narrow
filters before every shuffle so the expensive stages see only surviving
mass.
"""

from __future__ import annotations

from contextlib import ExitStack
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F

from .operators import curation, dedup, textstats, urls


@dataclass
class CurationReport:
    """Per-stage survivor counts (documents entering -> leaving)."""

    n_input: int = 0
    n_after_url_filter: int = 0
    n_after_quality: int = 0
    n_after_line_dedup: int = 0
    n_after_exact_dedup: int = 0
    n_after_near_dedup: int = 0
    n_after_decontamination: int = 0
    n_output: int = 0
    n_val: int = 0
    stages: list[str] = field(default_factory=list)

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in (
            "n_input", "n_after_url_filter", "n_after_quality", "n_after_line_dedup",
            "n_after_exact_dedup", "n_after_near_dedup",
            "n_after_decontamination", "n_output", "n_val",
        )} | {"stages": list(self.stages)}


def _drop(dec: DataFrame, cond, label: str, text_col: str) -> DataFrame:
    """Label the live rows of a decision frame (every input row, with
    ``dropped_at`` NULL while it survives) that match ``cond`` as
    dropped at ``label``, and clear their text: later stages see only
    survivors, and the first stage to reject a row names it."""
    dropped = F.coalesce(F.col("dropped_at"), F.when(cond, F.lit(label)))
    return dec.withColumns({
        "dropped_at": dropped,
        text_col: F.when(dropped.isNull(), F.col(text_col)),
    })


def _drop_ids(
    dec: DataFrame, ids: DataFrame, id_col: str, label: str, text_col: str,
    *, listed: bool,
) -> DataFrame:
    """:func:`_drop` keyed by id: drop the live rows whose id is
    (``listed=True``) or is not (``listed=False``) in ``ids`` — a
    stage's rejects, or its survivors.  ``ids`` holds each id once."""
    flagged = dec.join(ids.select(id_col, F.lit(True).alias("_in")), id_col, "left")
    cond = F.col("_in").isNotNull() if listed else F.col("_in").isNull()
    return _drop(flagged, cond, label, text_col).drop("_in")


def _live(dec: DataFrame) -> DataFrame:
    return dec.filter(F.col("dropped_at").isNull())


def _clean_and_dedup(
    dec: DataFrame, id_col: str, text_col: str, stages: "list[str]",
    held: ExitStack, *, min_words: int, max_line_frac: float, scrub: bool,
    gopher_kwargs: "dict | None",
) -> DataFrame:
    """The payload stages both curation entry points share, as labels on
    a decision frame: Gopher gate ("quality"), per-corpus line dedup
    plus the post-clean length gate ("line_dedup", the C4 order),
    optional PII scrub, and exact dedup — min id per identical text
    ("exact_dedup", dedup.dedup_exact's keeper policy).  The gated frame
    is cached until ``held`` closes."""
    gk = dict(gopher_kwargs or {})
    gk.setdefault("min_words", min_words)
    cols = dec.columns
    # keep= carries the frame's columns through: a linear narrow map.
    # Cached: line dedup reads it four times (three reads of its lines
    # table and the join back), and each would re-run the Gopher battery
    gated = textstats.gopher_rules(dec, id_col, text_col, keep=tuple(cols), **gk)
    dec = _drop(
        gated, ~F.coalesce(F.col("passes"), F.lit(False)), "quality", text_col
    ).select(*cols).persist()
    held.callback(dec.unpersist)
    stages.append("gopher_rules")

    # line frequencies over the live docs; the corpus-size anchor is
    # computed in-plan (drop_boilerplate_lines).  materialize=False: its
    # lines table comes from the cached gated frame
    rebuilt = curation.drop_boilerplate_lines(
        _live(dec), id_col, text_col, max_line_frac=max_line_frac,
        materialize=False,
    ).select(F.col("doc_id").alias(id_col), F.col("clean_text").alias("_clean"))
    dec = (
        dec.join(rebuilt, id_col, "left")
        .withColumn(text_col, F.col("_clean"))
        .drop("_clean")
    )
    words = F.filter(F.split(F.col(text_col), r"\s+", -1), lambda x: x != F.lit(""))
    dec = _drop(
        dec, F.coalesce(F.size(words) < min_words, F.lit(True)), "line_dedup",
        text_col,
    )
    stages.append("line_dedup")

    if scrub:
        dec = dec.withColumn(text_col, curation.scrub_pii(F.col(text_col)))
        stages.append("pii_scrub")

    # a dropped row (NULL text) ranks alone, so it is never a copy
    dec = _drop(
        dec.withColumn("_rn", dedup.exact_keeper_rank(id_col, text_col)),
        F.col("_rn") > 1, "exact_dedup", text_col,
    ).drop("_rn")
    stages.append("dedup_exact")
    return dec


def _count_decisions(
    frame: DataFrame, labels: "list[str]" = (), *, checkpoint: bool = False,
    **extra,
) -> "tuple[DataFrame, dict[str, int]]":
    """Run a decision frame ONCE and count it with ONE observation at its
    root: ``n`` rows, the rows left after each of ``labels`` (in stage
    order) and the ``extra`` named aggregates.  The run is a ``noop``
    write, or with ``checkpoint`` a ``localCheckpoint(eager=True)``
    whose frame is returned (its blocks live until the RDD behind its
    ``LogicalRDD`` is unpersisted): it cuts the lineage, so whatever is
    derived from it plans from that ``LogicalRDD``.  Nothing observed sits below a join or an exchange,
    so Spark's runtime empty-relation rewrite (a stage that rejects
    every row) cannot lose the observation."""
    obs = Observation()
    dropped = F.col("dropped_at")
    frame = frame.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        *[F.count_if(dropped == label).alias(label) for label in labels],
        *[agg.alias(name) for name, agg in extra.items()],
    )
    if checkpoint:
        frame = frame.localCheckpoint(eager=True)
    else:
        frame.write.format("noop").mode("overwrite").save()
    m = {k: int(v or 0) for k, v in obs.get.items()}
    left = m["n"]
    for label in labels:  # drops per label -> rows left after it
        left = m[label] = left - m[label]
    return frame, m


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    benchmark: DataFrame | None = None,
    blocklist: DataFrame | None = None,
    max_per_host: int | None = None,
    url_col: str | None = None,
    near_threshold: float = 0.8,
    min_words: int = 20,
    max_line_frac: float = 0.3,
    val_fraction: float = 0.1,
    scrub: bool = True,
    gopher_kwargs: dict | None = None,
) -> tuple[DataFrame, CurationReport]:
    """Run the full curation sequence; returns (curated_df, report).

    ``curated_df`` columns: (id_col, text_col, split) — text is the
    cleaned/scrubbed form; ``split`` is the salted-hash train/val label.
    ``benchmark`` (optional) is the eval-suite DataFrame for stage 6; it
    needs a ``text`` column.  ``blocklist`` (optional, one ``host``
    column) and ``max_per_host`` (optional quota) switch on a stage-0
    url filter over ``url_col``, which MUST be passed explicitly when
    either is set — defaulting to ``id_col`` silently produced empty
    host keys on non-url ids, and an empty-host corpus under
    ``max_per_host`` would truncate to the cap.  (The operators
    themselves also exempt empty-host rows — see urls.host_caps /
    urls.filter_blocklisted_hosts — so even a partially url-keyed
    column is safe.)  Both filters run BEFORE any payload work, per the
    C4/RefinedWeb ordering: broadcast host-blocklist anti-join +
    deterministic per-host cap.

    The report's counts come from ONE decision frame: every input row
    labelled ``dropped_at`` — the first stage that rejects it, NULL for
    a survivor — with one ``count_if`` per label observed at its root.
    A ``noop`` write of that frame is the call's ONLY execution (LMFAO's
    one pass for a batch of aggregates; the per-stage ``count()`` design
    re-ran 7+ actions over intermediates, which at 100 TB is 7+ extra
    passes).  ``curated_df`` stays lazy: writing it runs the plan again.

    Cache lifecycle: the signature UDF runs once per doc into one cached
    frame (stages 0-4 plus ``sig``) that the LSH branches and
    ``curated_df`` read, so writing ``curated_df`` re-runs only the
    near-dedup joins, decontamination and the split (the Gopher-gated
    frame, cached for line dedup, is released on return).  Like any
    cache it is recomputed from its lineage if a block is lost; a
    long-lived session cycling many corpora should
    ``spark.catalog.clearCache()`` between corpora once the curated
    output is written.
    """
    report = CurationReport()
    if (blocklist is not None or max_per_host) and url_col is None:
        raise ValueError(
            "curate_corpus: blocklist/max_per_host need an explicit "
            "url_col — a non-url id column would yield empty host keys "
            "for every row (nothing to block, nothing to cap)"
        )
    cols = list(dict.fromkeys([id_col, text_col, url_col or id_col]))
    dec = df.select(*cols).withColumn("dropped_at", F.lit(None).cast("string"))

    # 0. url filters — host blocklist + per-host quota, before any
    # payload-touching stage (both corpus-shuffle-free: broadcast anti
    # join + a host-keyed window)
    if blocklist is not None or max_per_host:
        ok = _live(dec)
        if blocklist is not None:
            ok = urls.filter_blocklisted_hosts(ok, blocklist, url_col=url_col)
            report.stages.append("host_blocklist")
        if max_per_host:
            ok = urls.host_caps(ok, url_col=url_col, max_per_host=max_per_host)
            report.stages.append("host_caps")
        dec = _drop_ids(dec, ok, id_col, "url_filter", text_col, listed=False)

    # the gated cache goes once the audit has filled the signature cache
    with ExitStack() as held:
        # 1-4. quality gate, line dedup + length gate, PII scrub, exact dedup
        dec = _clean_and_dedup(
            dec, id_col, text_col, report.stages, held, min_words=min_words,
            max_line_frac=max_line_frac, scrub=scrub, gopher_kwargs=gopher_kwargs,
        )

        # 5. near dedup — greedy keep-smallest-id over LSH candidates; the
        # signature UDF runs once per doc into this cached frame, which the
        # LSH branches and the returned frame read
        signed = dedup.with_minhash_signature(dec, text_col).persist()
        drops = (
            dedup.minhash_pairs(
                signed.filter(F.col("sig").isNotNull())
                .select(F.col(id_col).alias("id"), "sig")
            )
            .filter(F.col("est_jaccard") >= near_threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        dec = _drop_ids(
            signed.drop("sig"), drops, id_col, "near_dedup", text_col, listed=True
        )
        report.stages.append("minhash_lsh")

        # 6. decontamination — drop docs sharing a 13-gram with the eval suite
        if benchmark is not None:
            flags = dedup.decontaminate(_live(dec), benchmark, id_col, text_col)
            dirty = flags.filter("contaminated").select(F.col("doc_id").alias(id_col))
            dec = _drop_ids(dec, dirty, id_col, "decontaminate", text_col, listed=True)
            report.stages.append("decontaminate")

        # 7. reproducible split — salted content-hash buckets
        dec = curation.split_by_hash(dec, id_col, val_fraction=val_fraction)
        report.stages.append("train_val_split")

        labels = [
            "url_filter", "quality", "line_dedup", "exact_dedup", "near_dedup",
            "decontaminate",
        ]
        val = F.col("dropped_at").isNull() & (F.col("split") == "val")
        _, m = _count_decisions(dec, labels, n_val=F.count_if(val))
    report.n_input = m["n"]
    report.n_after_url_filter = m["url_filter"]
    report.n_after_quality = m["quality"]
    report.n_after_line_dedup = m["line_dedup"]
    report.n_after_exact_dedup = m["exact_dedup"]
    report.n_after_near_dedup = m["near_dedup"]
    report.n_output = report.n_after_decontamination = m["decontaminate"]
    report.n_val = m["n_val"]
    return _live(dec).select(id_col, text_col, "split"), report


# ---------------------------------------------------------------------
# continuous ingestion: curate each crawl batch against the warehouse
# ---------------------------------------------------------------------

@dataclass
class IncrementalReport:
    """Per-batch ingestion audit: counts at each boundary plus what the
    stored corpus rejected."""

    n_batch: int = 0
    n_new: int = 0                      # after dropping already-ingested ids
    n_after_quality: int = 0
    n_after_line_dedup: int = 0
    n_after_exact_dedup: int = 0        # within batch + vs stored keys
    n_dropped_vs_corpus_exact: int = 0
    n_after_near_dedup: int = 0         # vs stored LSH index + within batch
    n_after_semantic_dedup: int = 0     # vs stored semantic index + in batch
    n_after_decontamination: int = 0
    n_appended: int = 0
    snapshot_id: int = -1
    stages: list[str] = field(default_factory=list)

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in (
            "n_batch", "n_new", "n_after_quality", "n_after_line_dedup",
            "n_after_exact_dedup", "n_dropped_vs_corpus_exact",
            "n_after_near_dedup", "n_after_semantic_dedup",
            "n_after_decontamination", "n_appended",
            "snapshot_id",
        )} | {"stages": list(self.stages)}


CURATED_TABLE = "curated"
KEYS_TABLE = "curated_keys"        # (id, content_md5) — exact-dup index
SIGS_TABLE = "dedup_sigs"          # (id, sig array<long>) — MinHash index
BANDS_TABLE = "dedup_bands"        # (id, band, bucket) — LSH band index
HOSTS_TABLE = "host_counts"        # (host, n) — log-structured quota ledger
SEM_CENTROIDS_TABLE = "sem_centroids"  # (cell, centroid) — frozen quantizer
SEM_CELLS_TABLE = "sem_cells"      # (id, cell, cell_cos) — semantic cell index
SEM_VECS_TABLE = "sem_vecs"        # (id, embedding) — survivor vectors


def curate_incremental(
    spark,
    warehouse_root: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    benchmark: DataFrame | None = None,
    blocklist: DataFrame | None = None,
    max_per_host: int | None = None,
    url_col: str | None = None,
    near_threshold: float = 0.8,
    min_words: int = 20,
    max_line_frac: float = 0.3,
    val_fraction: float = 0.1,
    scrub: bool = True,
    gopher_kwargs: dict | None = None,
    embedding_col: str | None = None,
    semantic_threshold: float = 0.95,
    semantic_cells: int = 1024,
) -> "tuple[DataFrame, IncrementalReport]":
    """Curate ONE crawl batch against the warehouse-resident corpus and
    append the survivors atomically — the continuous-ingestion form of
    :func:`curate_corpus` (ref parity: the extraction ledger's
    memoization discipline, pipeline.py:40-76, applied to curation).

    Stored state (all slim, payload-free except ``curated``):

    * ``curated``       — (id, text, split): the corpus itself;
    * ``curated_keys``  — (id, content_md5): exact-dup + idempotence index;
    * ``dedup_sigs`` / ``dedup_bands`` — the :func:`dedup.minhash_index`
      tables; each batch joins its own bands against the stored bands
      (dedup.minhash_pairs) — the 100 TB corpus text is
      NEVER re-scanned, only its ~300 B/doc index;
    * with ``embedding_col``: ``sem_centroids`` / ``sem_cells`` /
      ``sem_vecs`` — the :func:`similarity.semantic_index` tables
      (SemDeDup).  Centroids freeze at the first embedded batch (the
      tiered_ingest frozen-bounds discipline); each batch assigns only
      ITSELF to them and scores new-vs-members inside touched cells
      (similarity.incremental_semantic_candidates), corpus wins, then
      smallest id within the batch.

    Batch flow: drop already-ingested ids (re-running a batch is a
    no-op — crash-resume idempotence); Gopher gate; per-batch line dedup
    (line frequencies are per-batch by design — corpus-global boilerplate
    drift belongs to a periodic re-curation, not the hot ingest path);
    optional PII scrub; exact dedup within batch then against stored
    md5 keys (corpus wins); near dedup against the stored index then
    within the batch (corpus wins, then smallest id); optional
    decontamination; salted split.  Survivors + their keys + index rows
    publish in ONE atomic multi-table commit, so a crash leaves either
    the whole batch ingested or none of it — and the index can never
    disagree with the corpus.

    Host quotas are CROSS-BATCH: with ``max_per_host`` (explicit
    ``url_col`` required, same contract as curate_corpus) the warehouse
    keeps a log-structured ``host_counts`` table (append per commit,
    summed at read) and each batch's per-host allowance is
    ``max_per_host - already_kept``; the counts delta for docs the batch
    actually APPENDS rides the same atomic commit, so the quota can
    never drift from the corpus.  Empty-host rows are exempt, matching
    urls.host_caps.

    Audit: the decision frame (see curate_corpus) also carries the
    survivors' MinHash signature, host and semantic cell, and its one
    checkpoint fills every report count.  The stage writes plan from
    that checkpoint, so an appending batch runs 1 execution + one per
    published table, and a replayed or fully-rejected batch runs the
    checkpoint alone.  The Python stages (signature UDF, cell
    assignment) run once per doc into cached frames; those and the
    checkpoint blocks are released before the call returns, so a call
    leaves no persistent RDD behind.  ``out`` (id, text, split) reads
    the curated files this call staged: no cache, nothing to release,
    and every read of it reads those files again.  (On the parquet
    warehouse they are the committed directory itself; on an Iceberg
    catalog the commit copies the staged table and drops it, so read
    :func:`read_curated` at ``rep.snapshot_id`` there.)
    """
    from .io.tables import empty_frame, open_warehouse

    rep = IncrementalReport()
    wh = open_warehouse(spark, warehouse_root)
    id_dt = batch.schema[id_col].dataType.simpleString()

    keys = wh.read(spark, KEYS_TABLE, schema=f"id {id_dt}, content_md5 string")
    sigs = wh.read(spark, SIGS_TABLE, schema=f"id {id_dt}, sig array<bigint>")
    bands = wh.read(spark, BANDS_TABLE, schema=f"id {id_dt}, band int, bucket bigint")
    if (blocklist is not None or max_per_host) and url_col is None:
        raise ValueError(
            "curate_incremental: blocklist/max_per_host need an explicit "
            "url_col (see curate_corpus)"
        )
    cols = list(dict.fromkeys([id_col, text_col, url_col or id_col]))
    dec = batch.select(*cols).withColumn("dropped_at", F.lit(None).cast("string"))
    if max_per_host:
        # survivors' hosts feed the quota delta of the commit
        dec = dec.withColumn("_host", urls.host_of(F.col(url_col)))

    # idempotent re-ingestion: ids the ledger already holds are done
    dec = _drop_ids(
        dec, keys.select(F.col("id").alias(id_col)), id_col, "ledger", text_col,
        listed=True,
    )
    rep.stages.append("ledger_anti_join")

    # stage 0: url filters — blocklist, then the CROSS-BATCH host quota
    if blocklist is not None or max_per_host:
        ok = _live(dec).select(*cols)
        if blocklist is not None:
            ok = urls.filter_blocklisted_hosts(ok, blocklist, url_col=url_col)
            rep.stages.append("host_blocklist")
        if max_per_host:
            host_counts = (
                wh.read(spark, HOSTS_TABLE, schema="host string, n long")
                .groupBy("host").agg(F.sum("n").alias("_kept"))
            )
            # exact salted two-level per-host rank (urls.host_rank): the
            # batch's remaining allowance is at most max_per_host, so the
            # shard prune at max_per_host is lossless here too
            ok = (
                urls.host_rank(ok, url_col, max_per_host)
                .join(F.broadcast(host_counts),
                      F.col("_host") == F.col("host"), "left")
                .filter(
                    (F.col("_host") == "")
                    | (F.col("_hc_rn")
                       <= max_per_host - F.coalesce(F.col("_kept"), F.lit(0)))
                )
            )
            rep.stages.append("host_caps_incremental")
        dec = _drop_ids(dec, ok, id_col, "url_filter", text_col, listed=False)

    # the cached frames and the checkpoint blocks are released on the
    # way out, whatever happens
    with ExitStack() as held:
        # Gopher gate, per-batch line dedup, PII scrub, exact dedup within
        # the batch...
        dec = _clean_and_dedup(
            dec, id_col, text_col, rep.stages, held, min_words=min_words,
            max_line_frac=max_line_frac, scrub=scrub, gopher_kwargs=gopher_kwargs,
        )
        # ...then against the stored md5 keys (corpus wins)
        stored = keys.select(F.col("content_md5").alias("_md5")).distinct()
        dec = dec.withColumn("_md5", F.md5(F.col(text_col))).join(
            stored.withColumn("_stored", F.lit(True)), "_md5", "left"
        )
        dec = _drop(
            dec, F.col("_stored").isNotNull(), "corpus_exact", text_col
        ).drop("_md5", "_stored")

        # the signature UDF runs ONCE per doc: the four LSH branches and the
        # survivors' index rows all read this cached frame
        signed = dedup.with_minhash_signature(dec, text_col).persist()
        held.callback(signed.unpersist)

        # near dedup: stored index first (corpus wins), then within batch
        cands = dedup.minhash_pairs(
            signed.filter(F.col("sig").isNotNull())
            .select(F.col(id_col).alias("id"), "sig"),
            sigs, bands,
        ).filter(F.col("est_jaccard") >= near_threshold)
        # every pair touches the batch, and its NEW endpoint loses (corpus
        # wins); in a new-new pair the greater id loses (batch keeper
        # policy), which is id_b as pairs come ordered — so id_b drops when
        # it is new, else id_a
        new_b = _live(signed).select(F.col(id_col).alias("_nb"))
        drops = (
            cands.join(new_b, cands["id_b"] == F.col("_nb"), "left")
            .select(
                F.when(F.col("_nb").isNotNull(), F.col("id_b"))
                .otherwise(F.col("id_a")).alias(id_col)
            )
            .distinct()
        )
        dec = _drop_ids(signed, drops, id_col, "near_dedup", text_col, listed=True)
        rep.stages.append("minhash_lsh_incremental")

        # semantic dedup (SemDeDup) against the stored frozen-centroid index:
        # same keeper policy as the MinHash stage (corpus wins; within-batch
        # the smaller id wins).  Embeddings are recovered from the RAW batch
        # by id (the payload stages projected them away); docs without a
        # (nonzero) embedding carry no semantic signal and never drop here.
        # Centroids FREEZE at the first embedded batch — the tiered_ingest
        # frozen-bounds discipline; re-clustering is a periodic maintenance
        # rebuild, not the hot path.
        new_cells = None
        if embedding_col is not None:
            import numpy as np

            from .operators import similarity as sim

            emb_dt = batch.schema[embedding_col].dataType.simpleString()
            sem_input = (
                _live(dec).select(id_col)
                .join(batch.select(F.col(id_col), F.col(embedding_col)), id_col)
                .filter(sim._nonzero_vec(F.col(embedding_col)))
                .select(F.col(id_col).alias("id"), F.col(embedding_col))
            )
            cts_rows = (
                wh.read(spark, SEM_CENTROIDS_TABLE,
                        schema="cell bigint, centroid array<double>")
                .orderBy("cell").collect()
            )
            first_sem = not cts_rows
            if first_sem:
                cts = sim.train_ivf_centroids(
                    sem_input, "id", embedding_col,
                    n_cells=semantic_cells, sample_size=4096,
                )
            else:
                cts = np.array([r["centroid"] for r in cts_rows], dtype=np.float64)
            if len(cts):
                # the Arrow cell assignment runs once: the candidate search
                # and the survivors' index rows read this cached frame
                new_cells = sim._assign_cell_with_sim(
                    sem_input, cts, embedding_col
                ).persist()
                held.callback(new_cells.unpersist)
                sem_index = wh.read(
                    spark, SEM_CELLS_TABLE,
                    schema=f"id {id_dt}, cell bigint, cell_cos double",
                )
                sem_vecs = wh.read(
                    spark, SEM_VECS_TABLE,
                    schema=f"id {id_dt}, embedding {emb_dt}",
                ).select("id", F.col("embedding").alias(embedding_col))
                sem_cands = sim.incremental_semantic_candidates(
                    None, None, sem_index, sem_vecs, "id", embedding_col,
                    threshold=semantic_threshold, new_cells=new_cells,
                )
                new_flag = new_cells.select(F.col("id").alias("_sn"))
                drops_sem = (
                    sem_cands.join(new_flag, sem_cands["id_b"] == F.col("_sn"),
                                   "left")
                    .select(
                        F.when(
                            F.col("_sn").isNotNull(),
                            F.greatest(F.col("id_a"), F.col("id_b")),
                        ).otherwise(F.col("id_a")).alias(id_col)
                    )
                    .distinct()
                )
                dec = _drop_ids(
                    dec, drops_sem, id_col, "semantic_dedup", text_col, listed=True
                ).join(
                    new_cells.select(
                        F.col("id").alias(id_col), "cell", "cell_cos",
                        F.col(embedding_col).alias("_emb"),
                    ),
                    id_col, "left",
                )
            rep.stages.append("semantic_dedup_incremental")

        if benchmark is not None:
            flags = dedup.decontaminate(_live(dec), benchmark, id_col, text_col)
            dirty = flags.filter("contaminated").select(F.col("doc_id").alias(id_col))
            dec = _drop_ids(dec, dirty, id_col, "decontaminate", text_col, listed=True)
            rep.stages.append("decontaminate")

        labels = [
            "ledger", "url_filter", "quality", "line_dedup", "exact_dedup",
            "corpus_exact", "near_dedup", "semantic_dedup", "decontaminate",
        ]
        ck, m = _count_decisions(dec, labels, checkpoint=True)
        held.callback(ck._jdf.queryExecution().analyzed().rdd().unpersist, False)
        rep.stages.append("train_val_split")
        rep.n_batch = m["n"]
        rep.n_new = m["ledger"]
        rep.n_after_quality = m["quality"]
        rep.n_after_line_dedup = m["line_dedup"]
        rep.n_after_exact_dedup = m["corpus_exact"]
        rep.n_dropped_vs_corpus_exact = m["exact_dedup"] - m["corpus_exact"]
        rep.n_after_near_dedup = m["near_dedup"]
        rep.n_after_semantic_dedup = m["semantic_dedup"]
        rep.n_appended = rep.n_after_decontamination = m["decontaminate"]

        surv = _live(ck)
        out = curation.split_by_hash(
            surv.select(id_col, text_col), id_col, val_fraction=val_fraction
        )
        if rep.n_appended == 0:
            # fully-rejected (or fully-memoized) batch: nothing to publish —
            # don't burn a snapshot on four empty appends
            rep.snapshot_id = wh.current_snapshot_id()
            rep.stages.append("noop_commit")
            return empty_frame(spark, out.schema), rep

        # derive the index rows for the survivors and publish EVERYTHING in
        # one atomic commit (corpus, keys, sigs, bands can never diverge);
        # every stage write reads the checkpoint
        new_keys = surv.select(
            F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_md5")
        )
        surv_sigs = surv.filter(F.col("sig").isNotNull()).select(
            F.col(id_col).alias("id"), "sig"
        )
        curated = wh.stage(out, CURATED_TABLE)
        staged = {
            CURATED_TABLE: [curated],
            KEYS_TABLE: [wh.stage(new_keys, KEYS_TABLE)],
            SIGS_TABLE: [wh.stage(surv_sigs, SIGS_TABLE)],
            BANDS_TABLE: [wh.stage(dedup.minhash_bands(surv_sigs), BANDS_TABLE)],
        }
        if new_cells is not None:
            # semantic index rows for the survivors ride the SAME atomic
            # commit (the cells/vectors tables can never diverge from the
            # corpus); docs without a nonzero embedding simply have no rows.
            # Frozen centroids publish once, with the first embedded batch
            # that actually appends (an all-rejected first batch retrains
            # next time — nothing stored, nothing to drift from).
            embedded = surv.filter(F.col("cell").isNotNull())
            embedded = embedded.withColumnRenamed(id_col, "id")
            staged[SEM_CELLS_TABLE] = [wh.stage(
                embedded.select("id", "cell", "cell_cos"), SEM_CELLS_TABLE
            )]
            staged[SEM_VECS_TABLE] = [wh.stage(
                embedded.select("id", F.col("_emb").alias("embedding")),
                SEM_VECS_TABLE,
            )]
            if first_sem:
                staged[SEM_CENTROIDS_TABLE] = [wh.stage(
                    sim.centroids_to_df(spark, cts), SEM_CENTROIDS_TABLE
                )]
        if max_per_host:
            # quota delta = hosts of the docs this batch ACTUALLY appends —
            # same atomic commit, so quota state never drifts from the corpus
            delta = (
                surv.filter(F.col("_host") != "")
                .groupBy(F.col("_host").alias("host"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            staged[HOSTS_TABLE] = [wh.stage(delta, HOSTS_TABLE)]
        # the returned frame reads the staged files, not the checkpoint
        # released on the way out (resolved before the commit consumes
        # the handle on an Iceberg catalog)
        out = wh.read_staged(spark, curated, schema=out.schema)
        rep.snapshot_id = wh.commit(staged)
        rep.stages.append("atomic_commit")
        return out, rep


def compact_warehouse(
    spark,
    warehouse_root: str,
    tables: "list[str] | None" = None,
    target_files: "int | None" = None,
    retain_last: "int | None" = None,
) -> int:
    """Compact the curation warehouse: rewrite each table's CURRENT
    committed state into one fresh directory and publish a single atomic
    replace-commit (the warehouse's ``compact``, the same call on both
    branches) — the maintenance pass continuous ingestion needs, because
    :func:`curate_incremental` appends one directory per batch to
    ``curated``/``curated_keys``/``dedup_sigs``/``dedup_bands``/
    ``host_counts`` forever, and at daily batches the band-join's file
    listing and the summed host-quota log grow without bound.

    * ``host_counts`` and ``tier_counts`` are FOLDED (summed per key) —
      the log-structured ledgers collapse to one row per key with
      identical read-side semantics (reads always sum) — into
      ``target_files`` partitions (default: the session's parallelism).
    * Every other table is rewritten as it is: by the parquet emulation
      in the partitions its scan packs the table's files into, by an
      Iceberg catalog with ``CALL system.rewrite_data_files``.
    * All compacted tables ride ONE replace-commit, so readers switch
      atomically; earlier snapshots still reference the old data, so
      TIME TRAVEL to pre-compaction snapshots is unaffected.
    * SINGLE-WRITER: compaction occupies the warehouse's serialized
      writer slot; running it concurrently with an ingest batch could
      replace away rows appended between the read and the commit.

    ``retain_last`` (opt-in, Iceberg catalogs only) additionally expires
    old table snapshots — storage reclaim at the cost of deep time
    travel; the emulation keeps every directory an earlier manifest
    lists.

    Returns the snapshot id.  Tables with no committed data are skipped;
    a no-op compaction (nothing committed yet) returns the current
    snapshot id.
    """
    from .io.tables import open_warehouse

    wh = open_warehouse(spark, warehouse_root)
    tables = tables if tables is not None else [
        CURATED_TABLE, KEYS_TABLE, SIGS_TABLE, BANDS_TABLE, HOSTS_TABLE,
        TIERED_TABLE, TIER_BOUNDS_TABLE, TIER_COUNTS_TABLE, TIER_SEEN_TABLE,
        TIER_QUALS_TABLE, SEM_CENTROIDS_TABLE, SEM_CELLS_TABLE,
        SEM_VECS_TABLE,
    ]
    n_parts = target_files or spark.sparkContext.defaultParallelism
    # the ledger folds (reads always sum, so the summed form is
    # read-identical); every other table is compacted as it is
    folds = {
        HOSTS_TABLE: lambda df: df.groupBy("host").agg(F.sum("n").alias("n")),
        TIER_COUNTS_TABLE: lambda df: df.groupBy("tier", "grp").agg(
            F.sum("n_seen").alias("n_seen"), F.sum("n_kept").alias("n_kept")
        ),
    }
    plan: "dict[str, DataFrame | None]" = {}
    for table in tables:
        plan[table] = None
        if table in folds:
            # only the empty-table signal skips a fold (compact then skips
            # the table); a real read failure (corrupt footer, transient
            # IO) must surface
            try:
                current = wh.read(spark, table)
            except ValueError:
                continue
            plan[table] = folds[table](current).repartition(n_parts)
    return wh.compact(spark, plan, retain_last=retain_last)


def read_curated(
    spark,
    warehouse_root: str,
    snapshot_id: "int | None" = None,
    split: "str | None" = None,
) -> DataFrame:
    """Committed curated corpus (id, text, split), optionally
    time-traveled to ``snapshot_id`` and filtered to one ``split``
    ('train'/'val') — the read-side mirror of pipeline.read_extracted
    for the curation tables."""
    from .io.tables import open_warehouse

    wh = open_warehouse(spark, warehouse_root)
    df = wh.read(spark, CURATED_TABLE, snapshot_id=snapshot_id)
    if split is not None:
        df = df.filter(F.col("split") == split)
    return df


# ---------------------------------------------------------------------
# tier extraction: quality-bucketed, temperature-balanced corpus slices
# ---------------------------------------------------------------------

def tiered_select(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    quality_col: "str | None" = None,
    group_col: "str | None" = None,
    n_tiers: int = 4,
    quota_coeff: float = 8.0,
    span_excise_n: "int | None" = None,
    min_words: int = 20,
    distributed_bounds: bool = True,
    relative_error: float = 1e-3,
) -> "tuple[DataFrame, dict]":
    """Tier EXTRACTION over a curated corpus: the selection stage that
    turns "everything that survived curation" into "quality-bucketed,
    temperature-balanced training slices" (FineWeb-style buckets x
    XLM-R-style alpha=0.5 group rebalancing).

    Composition (each piece is its own oracled §2 operator; this
    function only chains them):

    1. optional span excision (``span_excise_n``): verbatim passages
       duplicated corpus-wide are cut out of the surviving text
       (operators.curation.excise_dup_spans) and the post-excision
       length gate re-applied — document dedup upstream removed whole
       near-copies; this removes the boilerplate spans that survived it.
    2. quality: ``quality_col`` if the caller scored docs already, else
       textstats.quality_score (narrow map).
    3. tiering: ``distributed_bounds=True`` (default) takes one
       Greenwald-Khanna ``approxQuantile`` sketch pass for the cutoffs,
       then tier assignment is a shuffle-free threshold map — the
       100 TB path.  ``False`` uses the exact global ``ntile`` (bounded
       slices only: single-task window).
    4. per-(tier, group) keep quotas ``min(m, floor(c*sqrt(m)))`` filled
       by the deterministic salted-window md5 lottery
       (operators.curation.quality_tiers).

    Returns ``(out, report)``: ``out`` is every surviving row with
    ``(quality, tier, group_n, quota, keep)`` appended — write the
    extraction as ``out.filter("keep").write.partitionBy("tier")...``
    so downstream jobs prune to the tiers they train on; ``report``
    carries ``n_input`` / ``n_after_excise`` / ``tier_bounds`` and the
    per-tier (total, kept) histogram.

    Single-pass audit: every report figure is observed at the root of
    ONE decision frame — every input row with its excision verdict and
    (for survivors) its tier and keep flag — run once with a ``noop``
    write; the only other execution is the Greenwald-Khanna bounds
    sketch (none with ``distributed_bounds=False``).

    Scale shape: all tiering decisions (sketch, quota windows, lottery)
    run on a persisted NARROW (id, quality, group) projection — the
    corpus text rides exactly one scan into the final id-join however
    many consumers the decision plan has.  The narrow cache follows the
    standard lifecycle (``spark.catalog.clearCache()`` releases it).
    """
    report: dict = {}
    live = F.lit(True)
    if span_excise_n:
        cleaned = curation.excise_dup_spans(
            df, id_col, text_col, n=span_excise_n
        ).select(
            F.col(id_col),
            F.col("cleaned").alias(text_col),
            (F.col("n_words") - F.col("n_removed")).alias("_kept_words"),
        )
        other_cols = [c for c in df.columns if c != text_col]
        # every input row, the excised ones flagged by the length gate
        df = df.select(*other_cols).join(cleaned, id_col)
        live = F.col("_kept_words") >= min_words

    # tiering decisions run on a persisted NARROW (id, quality, group)
    # table — the quantile sketch, the quota windows, and the keep join
    # all consume ~16-byte rows, and the corpus text rides exactly ONE
    # scan (the final id-join below) no matter how many consumers the
    # decision plan has.  Caching the full corpus instead (or
    # re-scanning text per consumer) measured strictly worse at 5M rows
    # — see quality_tiers' materialize note.  It holds every input row
    # with its excision verdict, so the audit below counts from it too.
    qcol = quality_col
    if qcol is None:
        qcol = "_quality"
        quality = textstats.quality_score(F.col(text_col))
    else:
        quality = F.col(qcol)
    narrow = df.select(
        F.col(id_col), *([F.col(group_col)] if group_col else []),
        quality.alias(qcol), live.alias("_live"),
    ).persist()
    live_narrow = narrow.filter("_live").drop("_live")

    bounds = None
    if distributed_bounds:
        bounds = curation.approx_tier_bounds(
            live_narrow, qcol, n_tiers=n_tiers, relative_error=relative_error
        )
    report["tier_bounds"] = bounds
    decisions = curation.quality_tiers(
        live_narrow, id_col=id_col, quality_col=qcol, group_col=group_col,
        n_tiers=n_tiers, quota_coeff=quota_coeff, tier_bounds=bounds,
    )
    keep_cols = [id_col, qcol, "tier", "group_n", "quota", "keep"]
    if quality_col is not None:
        keep_cols.remove(qcol)
    if group_col:
        decisions = decisions.drop(group_col)

    # ONE execution counts the input, the excision survivors and the
    # per-tier (total, kept) histogram: n_tiers is known up front, so
    # they are 2*n_tiers + 2 aggregates at the root of the decision frame
    tier, tiers = F.col("tier"), range(1, n_tiers + 1)
    _, h = _count_decisions(
        narrow.select(id_col, "_live").join(
            decisions.select(id_col, "tier", "keep"), id_col, "left"
        ),
        n_live=F.count_if("_live"),
        **{f"n_{i}": F.count_if(tier == i) for i in tiers},
        **{f"k_{i}": F.count_if((tier == i) & F.col("keep")) for i in tiers},
    )
    report["n_input"] = h["n"]
    if span_excise_n:
        report["n_after_excise"] = h["n_live"]
    report["tiers"] = {i: (h[f"n_{i}"], h[f"k_{i}"]) for i in tiers if h[f"n_{i}"]}

    # the caller's write of `out` re-reads only the persisted narrow +
    # one corpus scan
    out = df.filter(live).drop("_kept_words").join(
        decisions.select(*keep_cols), id_col
    )
    if quality_col is None:
        out = out.withColumnRenamed("_quality", "quality")
    return out, report


TIERED_TABLE = "tiered"            # (id, text, ..., quality, tier) — kept docs
TIER_BOUNDS_TABLE = "tier_bounds"  # (tier, cutoff) — frozen thresholds
TIER_COUNTS_TABLE = "tier_counts"  # (tier, grp, n_seen, n_kept) — quota ledger
TIER_SEEN_TABLE = "tier_seen"      # (id) — processed-doc memo ledger
TIER_QUALS_TABLE = "tier_quals"    # (id, quality, grp) — seen-population scores


def tiered_ingest(
    spark,
    warehouse_root: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    quality_col: "str | None" = None,
    group_col: "str | None" = None,
    n_tiers: int = 4,
    quota_coeff: float = 8.0,
    relative_error: float = 1e-3,
) -> "tuple[DataFrame, dict]":
    """Tier-extract ONE batch against the warehouse — the
    continuous-ingestion form of :func:`tiered_select`, mirroring
    curate_incremental's ledger discipline for the tier quotas.

    Stored state:

    * ``tiered``       — the kept rows (batch columns + quality, tier);
    * ``tier_bounds``  — (tier, cutoff): computed by the FIRST batch's
      Greenwald-Khanna sketch and frozen — every later batch tier-maps
      against the same thresholds, so tier semantics never drift with
      batch composition (re-tiering the corpus under fresh bounds is a
      periodic maintenance job, not the hot path);
    * ``tier_counts``  — (tier, grp, n_seen, n_kept) log-structured
      ledger (append per commit, summed at read).

    Per-(tier, group) allowance for a batch is
    ``min(m_total, floor(c*sqrt(m_total))) - kept_so_far`` where
    ``m_total`` counts every doc EVER SEEN in the cell (kept or not) —
    the sqrt-temperature quota is monotone in m, so allowances only
    top up, never shrink, and after any batch sequence the kept count
    per cell EXACTLY equals the single-shot quota for the same seen
    population (the convergence test pins this).  WHICH docs fill a
    topped-up allowance is arrival-order greedy (earlier batches lock
    their keeps) — same documented policy as the corpus-wins keeper in
    incremental dedup.  Within a batch the lottery is the deterministic
    portable-md5 rank, two-level salted like quality_tiers.

    Re-running a batch is a no-op: ``tier_seen`` is an id-only memo
    ledger of every doc ever PROCESSED (kept or rejected — a kept-only
    ledger would re-count a replayed batch's rejected docs as fresh
    ``n_seen`` and inflate future quotas), and a fully-rejected batch
    still commits its seen ids + counts — they raise future allowances.
    Kept rows, seen ids, count deltas, and (first batch) bounds publish
    in ONE atomic commit.

    Single-pass audit: a batch runs exactly ONE probe action — a
    ``noop`` write of every batch row flagged new or already seen, with
    ``n_batch``/``n_new`` observed at its root, which also fills the
    batch-scan cache — plus one tiny bounds read (GK sketch on the
    first batch, a collect of the frozen cutoffs after).  ``n_kept`` and
    the per-tier histogram are observed at the root of the ``tiered``
    stage write itself.  A replayed batch short-circuits at the probe:
    EXACTLY one execution, no tier plan built, no staging, no snapshot.

    Returns ``(kept_df, report)``.  ``kept_df`` comes back CACHED (the
    commit materialized it); the caller owns the unpersist — the
    streaming sink drops it per batch (run_tiered_stream).
    """
    from .io.tables import open_warehouse
    from .operators import curation as cops

    wh = open_warehouse(spark, warehouse_root)
    id_dt = batch.schema[id_col].dataType.simpleString()
    rep: dict = {}
    seen_ids = wh.read(spark, TIER_SEEN_TABLE, schema=f"{id_col} {id_dt}")
    # every batch row flagged once, persisted: the probe action below
    # fills this cache, so the raw batch is scanned ONCE per ingest
    # however many consumers follow (tier join, seen-ids stage) — the r6
    # design re-scanned it per count.  tier_seen holds each id once.
    flagged = batch.join(
        seen_ids.select(id_col, F.lit(True).alias("_seen")), id_col, "left"
    ).persist()
    new = flagged.filter(F.col("_seen").isNull()).drop("_seen")

    # the ONE probe action, counted at its root
    _, probe = _count_decisions(
        flagged.select("_seen"), n_new=F.count_if(F.col("_seen").isNull())
    )
    rep.update(n_batch=probe["n"], n_new=probe["n_new"])

    if rep["n_new"] == 0:
        # replay (or empty batch): nothing to tier, nothing to commit —
        # return before ANY tier plan is built, with exactly the one
        # probe execution spent (replay-is-a-no-op is the family's
        # headline contract; make it free)
        rep.update(n_kept=0, kept_per_tier={},
                   snapshot_id=wh.current_snapshot_id())
        empty = new.limit(0).withColumn("tier", F.lit(None).cast("long"))
        if quality_col is None:
            empty = empty.withColumn("quality", F.lit(None).cast("double"))
        flagged.unpersist()
        return empty, rep

    qcol = quality_col or "_quality"
    grp = F.col(group_col) if group_col else F.lit("")
    narrow_cols = [F.col(id_col), grp.alias("_grp")]
    if quality_col is None:
        narrow = new.select(
            *narrow_cols, textstats.quality_score(F.col(text_col)).alias(qcol)
        )
    else:
        narrow = new.select(*narrow_cols, F.col(qcol))
    narrow = narrow.persist()

    # tier cutoffs: tiny — the frozen bounds are ≤ n_tiers rows, and the
    # first batch (no committed bounds table: the read raises the
    # empty-table ValueError without touching Spark) sketches them from
    # narrow, which fills its cache
    try:
        stored_bounds = wh.read(spark, TIER_BOUNDS_TABLE).collect()
    except ValueError:
        stored_bounds = []
    first_batch = not stored_bounds
    if first_batch:
        bounds = cops.approx_tier_bounds(
            narrow, qcol, n_tiers=n_tiers, relative_error=relative_error
        )
    else:
        bounds = [r["cutoff"] for r in sorted(stored_bounds, key=lambda r: r["tier"])]
    rep["tier_bounds"] = bounds
    rep["first_batch"] = first_batch

    assigned = narrow.withColumn("tier", cops.tier_of(F.col(qcol), bounds))

    prev = (
        wh.read(spark, TIER_COUNTS_TABLE,
                schema="tier long, grp string, n_seen long, n_kept long")
        .groupBy("tier", "grp")
        .agg(F.sum("n_seen").alias("_m_prev"), F.sum("n_kept").alias("_k_prev"))
        .withColumnRenamed("grp", "_grp")
    )
    m_batch = assigned.groupBy("tier", "_grp").agg(F.count("*").alias("_m_batch"))
    cells = (
        m_batch.join(prev, ["tier", "_grp"], "left")
        .select(
            "tier", "_grp", "_m_batch",
            F.coalesce(F.col("_m_prev"), F.lit(0)).alias("_m_prev"),
            F.coalesce(F.col("_k_prev"), F.lit(0)).alias("_k_prev"),
        )
        .withColumn("_m_tot", F.col("_m_prev") + F.col("_m_batch"))
        .withColumn(
            "_allow",
            F.greatest(
                F.lit(0).cast("long"),
                cops.sqrt_quota(F.col("_m_tot"), quota_coeff)
                - F.col("_k_prev"),
            ),
        )
    )
    sized = assigned.join(F.broadcast(cells), ["tier", "_grp"])
    kept = (
        cops.quota_lottery(sized, id_col, ["tier", "_grp"], "_allow")
        .select(id_col, "tier", "_grp", F.col(qcol))
        .persist()
    )
    sel = [F.col(id_col), F.col("tier")]
    if quality_col is None:
        # surface the internally-computed score; a caller-provided
        # quality column is already on the batch rows
        sel.append(F.col(qcol).alias("quality"))
    out = new.join(kept.select(*sel), id_col).persist()

    # delta rows: EVERY seen doc counts toward future allowances, kept
    # or not; kept counts come from the same kept set the corpus append
    # uses, so the ledger can never drift from the table
    kept_cells = kept.groupBy("tier", "_grp").agg(F.count("*").alias("_nk"))
    delta = (
        cells.select("tier", "_grp", F.col("_m_batch").alias("n_seen"))
        .join(kept_cells, ["tier", "_grp"], "left")
        .select(
            "tier", F.col("_grp").alias("grp"), "n_seen",
            F.coalesce(F.col("_nk"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )
    # n_kept + the per-tier histogram are observed at the root of the
    # TIERED stage write itself (which also materializes out's cache and
    # kept's) — no count(), no collect()
    obs_out = Observation()
    tiered = out.observe(
        obs_out,
        F.count(F.lit(1)).alias("n"),
        *[F.count_if(F.col("tier") == i).alias(f"t_{i}")
          for i in range(1, n_tiers + 1)],
    )
    staged = {
        TIERED_TABLE: [wh.stage(tiered, TIERED_TABLE)],
        TIER_SEEN_TABLE: [wh.stage(new.select(id_col), TIER_SEEN_TABLE)],
        TIER_COUNTS_TABLE: [wh.stage(delta, TIER_COUNTS_TABLE)],
        # the seen-population quality ledger (~16 B/doc — same narrow
        # projection the decisions ran on, read from its cache): what
        # makes retier_warehouse exact later, for kept AND rejected docs
        TIER_QUALS_TABLE: [wh.stage(
            narrow.select(
                F.col(id_col),
                F.col(qcol).cast("double").alias("quality"),
                F.col("_grp").alias("grp"),
            ),
            TIER_QUALS_TABLE,
        )],
    }
    if first_batch:
        bounds_df = spark.createDataFrame(
            [(i + 1, float(b)) for i, b in enumerate(bounds)],
            "tier long, cutoff double",
        )
        staged[TIER_BOUNDS_TABLE] = [wh.stage(bounds_df, TIER_BOUNDS_TABLE)]
    rep["snapshot_id"] = wh.commit(staged)
    m = obs_out.get
    rep["n_kept"] = int(m["n"])
    rep["kept_per_tier"] = {
        i: int(m[f"t_{i}"]) for i in range(1, n_tiers + 1) if int(m[f"t_{i}"]) > 0
    }
    narrow.unpersist()
    flagged.unpersist()
    kept.unpersist()
    return out, rep


def retier_warehouse(
    spark,
    warehouse_root: str,
    id_col: str = "doc_id",
    *,
    n_tiers: "int | None" = None,
    quota_coeff: float = 8.0,
    relative_error: float = 1e-3,
    target_files: "int | None" = None,
) -> "tuple[int, dict]":
    """The periodic maintenance job :func:`tiered_ingest`'s frozen-bounds
    design defers to: recompute tier cutoffs from the quality
    distribution of EVERY document the warehouse has ever seen (kept or
    rejected — the ``tier_quals`` ledger, ~16 B/doc), re-map the stored
    ``tiered`` rows to the new tiers, re-apply the sqrt-temperature
    quotas per new (tier, group) cell, and publish the rewritten
    ``tiered`` + ``tier_bounds`` + ``tier_counts`` in ONE replace-commit
    — so after months of drifting ingestion, tiers 1..n mean quantiles
    of the real population again.

    Exactness contract: the replacement ledger's ``n_seen`` per new cell
    is the TRUE seen count (from ``tier_quals``), so post-re-tier
    ingestion tops up each cell against the new bounds with the same
    closed form as always — ``min(m_tot, floor(c*sqrt(m_tot))) -
    kept_so_far`` — with no drift.  Cells whose stored keeps exceed the
    recomputed quota are trimmed by the same deterministic two-level
    md5 lottery the ingest path uses; cells under quota keep everything
    stored (rejected docs' text is gone — their slots refill from
    future batches).  Time travel to pre-re-tier snapshots still reads
    the old tiers (the rewrite is one ``compact`` of the three tables,
    which never rewrites history on either branch).  ``target_files`` is
    the partition count of each rewritten table (default: the session's
    parallelism).

    ``n_tiers=None`` keeps the stored tier count.  Raises ``ValueError``
    on a warehouse with no committed bounds (nothing to re-tier) or no
    ``tier_quals`` ledger (pre-r7 warehouse: the seen population's
    scores were not recorded, so honest re-tiering is impossible —
    re-ingest, or accept the frozen bounds).

    Returns ``(snapshot_id, report)`` with old/new bounds and kept
    counts.  Maintenance-scale job (a handful of actions over narrow
    ledgers + one corpus-table rewrite); single-writer slot applies.
    """
    from .io.tables import open_warehouse
    from .operators import curation as cops

    wh = open_warehouse(spark, warehouse_root)
    try:
        stored_bounds = wh.read(spark, TIER_BOUNDS_TABLE).collect()
    except ValueError:
        raise ValueError(
            "retier_warehouse: no committed tier_bounds — run tiered_ingest "
            "first (nothing to re-tier)"
        ) from None
    try:
        quals = wh.read(spark, TIER_QUALS_TABLE)
    except ValueError:
        raise ValueError(
            "retier_warehouse: no tier_quals ledger — this warehouse predates "
            "the seen-population score ledger, so bounds cannot be recomputed "
            "honestly (kept-only quantiles are quota-biased); re-ingest to "
            "rebuild it"
        ) from None
    old_bounds = [
        r["cutoff"] for r in sorted(stored_bounds, key=lambda r: r["tier"])
    ]
    if n_tiers is None:
        n_tiers = len(old_bounds) + 1

    quals = quals.persist()
    bounds = cops.approx_tier_bounds(
        quals, "quality", n_tiers=n_tiers, relative_error=relative_error
    )

    assigned = quals.withColumn(
        "_rt_tier", cops.tier_of(F.col("quality"), bounds)
    )
    cells = (
        assigned.groupBy("_rt_tier", "grp")
        .agg(F.count("*").alias("n_seen"))
        .withColumn("_rt_quota", cops.sqrt_quota(F.col("n_seen"), quota_coeff))
    )

    stored = wh.read(spark, TIERED_TABLE)
    out_cols = list(stored.columns)
    # candidates = stored keeps re-mapped to their new tier; the stored
    # table is already quota-bounded (≤ c*sqrt(m) per old cell), so this
    # side is small next to the corpus scan that produced it
    cand = stored.drop("tier").join(
        assigned.select(
            F.col(id_col), F.col("_rt_tier"), F.col("grp").alias("_rt_grp")
        ),
        id_col,
    )
    sized = cand.join(
        F.broadcast(cells.withColumnRenamed("grp", "_rt_grp")),
        ["_rt_tier", "_rt_grp"],
    )
    kept = cops.quota_lottery(
        sized, id_col, ["_rt_tier", "_rt_grp"], "_rt_quota"
    ).withColumn("tier", F.col("_rt_tier"))
    new_tiered = kept.select(*out_cols)

    # replacement ledger: exact seen counts per NEW cell + what survived
    kept_cells = kept.groupBy("_rt_tier", "_rt_grp").agg(
        F.count("*").alias("n_kept")
    )
    new_counts = (
        cells.withColumnRenamed("grp", "_rt_grp")
        .join(kept_cells, ["_rt_tier", "_rt_grp"], "left")
        .select(
            F.col("_rt_tier").alias("tier"),
            F.col("_rt_grp").alias("grp"),
            "n_seen",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )
    bounds_df = spark.createDataFrame(
        [(i + 1, float(b)) for i, b in enumerate(bounds)],
        "tier long, cutoff double",
    )

    n_parts = target_files or spark.sparkContext.defaultParallelism
    # n_kept: observed at the root of the frame the tiered write runs
    obs_kept = Observation()
    snap = wh.compact(spark, {
        TIERED_TABLE: new_tiered.repartition(n_parts).observe(
            obs_kept, F.count(F.lit(1)).alias("n")
        ),
        TIER_BOUNDS_TABLE: bounds_df.repartition(n_parts),
        TIER_COUNTS_TABLE: new_counts.repartition(n_parts),
    })
    rep = {
        "snapshot_id": snap,
        "old_bounds": old_bounds,
        "new_bounds": bounds,
        "n_tiers": n_tiers,
        "n_kept": int(obs_kept.get["n"]),
    }
    quals.unpersist()
    return snap, rep
