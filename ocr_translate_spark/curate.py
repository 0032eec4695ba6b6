"""End-to-end training-data curation pipeline: the composition a user of
the extraction engine actually runs between "raw extracted pages" and
"tokenizer-ready corpus".

Stage order follows the published pipelines (C4 -> Gopher -> RefinedWeb /
FineWeb all converge on roughly this sequence — each stage removes mass
the later, more expensive stages would otherwise pay for):

0. url filter          — host blocklist + per-host quota (optional)
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
Both entry points build that frame with one builder, :func:`_decisions`:
:func:`curate_incremental` runs it over the warehouse's stored state,
:func:`curate_corpus` over none — a corpus curated alone is a batch
ingested into a fresh warehouse.

Near-dedup keeper policy (:func:`_near_dup_losers`, for the MinHash and
the semantic stage): of a candidate pair the stored endpoint wins, and
of two batch endpoints the smaller id — the standard greedy "keep first"
web-dedup policy (one step of min-id label propagation; transitive
chains collapse to their minimum over repeated runs, and at one pass no
surviving pair is a near-dup).  One distinct + one broadcast-able
anti-join — no iterative connected components on the hot path.

Scale notes: stages 1-3 and 7 are shuffle-free narrow maps; stage 4 is
one hash shuffle on md5; stage 5 is the banded LSH join (payload-light,
probed at 200k docs — see BENCH/BASELINE.md); stage 6's build side is
the eval suite's distinct gram hashes.  Stage order puts the narrow
filters before every shuffle so the expensive stages see only surviving
mass.
"""

from __future__ import annotations

from contextlib import ExitStack
from dataclasses import asdict, dataclass, field

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
        return asdict(self)


# every label a decision frame can carry, in stage order; a label a call
# never assigns counts 0 drops
_LABELS = (
    "ledger", "url_filter", "quality", "line_dedup", "exact_dedup",
    "corpus_exact", "near_dedup", "semantic_dedup", "decontaminate",
)


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


def _near_dup_losers(
    pairs: DataFrame, batch_ids: "DataFrame | None", id_col: str
) -> DataFrame:
    """The keeper rule of every near-dedup stage: of a candidate pair
    ``(id_a, id_b)`` the batch endpoint loses (the stored corpus wins),
    and of two batch endpoints the greater id loses (greedy keep-first).
    ``batch_ids`` holds the batch's live ids as ``id_col``; ``None``
    means every endpoint is a batch id.  Returns each loser once, as
    ``id_col``."""
    pairs = pairs.select(
        F.least("id_a", "id_b").alias("_lo"), F.greatest("id_a", "id_b").alias("_hi")
    )
    loser = F.col("_hi")
    if batch_ids is not None:
        pairs = pairs.join(
            batch_ids.select(F.col(id_col).alias("_hi"), F.lit(True).alias("_new")),
            "_hi", "left",
        )
        loser = F.when(F.col("_new").isNotNull(), loser).otherwise(F.col("_lo"))
    return pairs.select(loser.alias(id_col)).distinct()


def _decontaminate(
    dec: DataFrame, benchmark: "DataFrame | None", id_col: str, text_col: str,
    stages: "list[str]",
) -> DataFrame:
    """Label the live docs sharing a 13-gram with the eval suite
    ``benchmark`` (a ``text`` column) as "decontaminate"; no stage
    without one."""
    if benchmark is None:
        return dec
    flags = dedup.decontaminate(_live(dec), benchmark, id_col, text_col)
    dirty = flags.filter("contaminated").select(F.col("doc_id").alias(id_col))
    stages.append("decontaminate")
    return _drop_ids(dec, dirty, id_col, "decontaminate", text_col, listed=True)


def _clean_and_dedup(
    dec: DataFrame, id_col: str, text_col: str, stages: "list[str]",
    held: ExitStack, *, min_words: int, max_line_frac: float, scrub: bool,
    gopher_kwargs: "dict | None",
) -> DataFrame:
    """The payload stages of :func:`_decisions`, as labels on a decision
    frame: Gopher gate ("quality"), per-corpus line dedup plus the
    post-clean length gate ("line_dedup", the C4 order), optional PII
    scrub, and exact dedup — min id per identical text ("exact_dedup",
    dedup.dedup_exact's keeper policy).  The gated frame is cached until
    ``held`` closes."""
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


def _decisions(
    df: DataFrame, id_col: str, text_col: str, stages: "list[str]",
    held: ExitStack, stored: "dict[str, DataFrame] | None", *,
    blocklist: "DataFrame | None", max_per_host: "int | None",
    url_col: "str | None", near_threshold: float, min_words: int,
    max_line_frac: float, scrub: bool, gopher_kwargs: "dict | None",
) -> "tuple[DataFrame, DataFrame]":
    """The decision frame of both curation entry points, through near
    dedup: every row of ``df`` as (id, text, url, ``dropped_at``, ``sig``),
    labelled in stage order by the ledger anti-join (with ``stored``),
    url filter, :func:`_clean_and_dedup`, corpus-exact check (with
    ``stored``) and MinHash near dedup.  ``stored`` maps the curated and
    host-count tables to their committed state (the ledger, md5 and
    signature columns are read from ``curated``); ``None`` is empty
    stored state (host counts 0, every pair endpoint a batch id).  Stage
    names take an ``_incremental`` suffix with ``stored``.

    Returns the frame and the signature cache it reads, which the caller
    owns; the Gopher-gated cache is released when ``held`` closes."""
    if (blocklist is not None or max_per_host) and url_col is None:
        raise ValueError(
            "curation: blocklist/max_per_host need an explicit url_col — a "
            "non-url id column would yield empty host keys for every row "
            "(nothing to block, nothing to cap)"
        )
    sfx = "" if stored is None else "_incremental"
    cols = list(dict.fromkeys([id_col, text_col, url_col or id_col]))
    dec = df.select(*cols).withColumn("dropped_at", F.lit(None).cast("string"))

    if stored is not None:
        # idempotent re-ingestion: ids the ledger already holds are done
        dec = _drop_ids(
            dec, stored[CURATED_TABLE].select(id_col), id_col, "ledger",
            text_col, listed=True,
        )
        stages.append("ledger_anti_join")

    # stage 0: url filters — host blocklist + per-host quota, before any
    # payload work (both corpus-shuffle-free: broadcast anti join + a
    # host-keyed window over the slim (id, url) rows)
    if blocklist is not None or max_per_host:
        ok = _live(dec).select(*dict.fromkeys([id_col, url_col]))
        if blocklist is not None:
            ok = urls.filter_blocklisted_hosts(ok, blocklist, url_col=url_col)
            stages.append("host_blocklist")
        if max_per_host:
            # exact salted two-level per-host rank (urls.host_rank); the
            # allowance is max_per_host less the host's stored count, at
            # most max_per_host, so the shard prune there is lossless.
            # Empty-host rows are exempt
            ok = urls.host_rank(ok, url_col, max_per_host)
            kept = F.lit(0)
            if stored is not None:
                counts = stored[HOSTS_TABLE].groupBy("host").agg(
                    F.sum("n").alias("_kept")
                )
                ok = ok.join(
                    F.broadcast(counts), F.col("_host") == F.col("host"), "left"
                )
                kept = F.coalesce(F.col("_kept"), F.lit(0))
            ok = ok.filter(
                (F.col("_host") == "") | (F.col("_hc_rn") <= max_per_host - kept)
            )
            stages.append("host_caps" + sfx)
        dec = _drop_ids(dec, ok, id_col, "url_filter", text_col, listed=False)

    # Gopher gate, line dedup, PII scrub, exact dedup within the batch...
    dec = _clean_and_dedup(
        dec, id_col, text_col, stages, held, min_words=min_words,
        max_line_frac=max_line_frac, scrub=scrub, gopher_kwargs=gopher_kwargs,
    )
    if stored is not None:
        # ...then against the stored md5 keys (corpus wins)
        known = stored[CURATED_TABLE].select(F.col("content_md5").alias("_md5"))
        dec = dec.withColumn("_md5", F.md5(F.col(text_col))).join(
            known.distinct().withColumn("_stored", F.lit(True)), "_md5", "left"
        )
        dec = _drop(
            dec, F.col("_stored").isNotNull(), "corpus_exact", text_col
        ).drop("_md5", "_stored")

    # near dedup over the batch's signatures (and the stored ones)
    signed = dedup.with_minhash_signature(dec, text_col).persist()

    def sigs(frame):
        return frame.filter(F.col("sig").isNotNull()).select(
            F.col(id_col).alias("id"), "sig"
        )

    pairs = dedup.minhash_pairs(
        sigs(signed), None if stored is None else sigs(stored[CURATED_TABLE])
    ).filter(F.col("est_jaccard") >= near_threshold)
    batch_ids = None if stored is None else _live(signed).select(id_col)
    dec = _drop_ids(
        signed, _near_dup_losers(pairs, batch_ids, id_col), id_col, "near_dedup",
        text_col, listed=True,
    )
    stages.append("minhash_lsh" + sfx)
    return dec, signed


def _count_decisions(
    frame: DataFrame, labels: "tuple[str, ...]" = (), *, checkpoint: bool = False,
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
    column) and ``max_per_host`` (optional quota) switch on the stage-0
    url filter over ``url_col``, which must then be given explicitly (a
    non-url id would give every row an empty host, and empty-host rows
    are exempt from both filters).

    Stages 0-5 are :func:`_decisions` with no stored state — the stages
    :func:`curate_incremental` runs over a warehouse, so this call keeps
    the rows and counts that one keeps over a fresh warehouse.

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
    # the gated cache goes once the audit has filled the signature cache
    with ExitStack() as held:
        dec, _ = _decisions(
            df, id_col, text_col, report.stages, held, None,
            blocklist=blocklist, max_per_host=max_per_host, url_col=url_col,
            near_threshold=near_threshold, min_words=min_words,
            max_line_frac=max_line_frac, scrub=scrub, gopher_kwargs=gopher_kwargs,
        )
        dec = _decontaminate(
            dec.drop("sig"), benchmark, id_col, text_col, report.stages
        )
        # reproducible split — salted content-hash buckets
        dec = curation.split_by_hash(dec, id_col, val_fraction=val_fraction)
        report.stages.append("train_val_split")

        val = F.col("dropped_at").isNull() & (F.col("split") == "val")
        _, m = _count_decisions(dec, _LABELS, n_val=F.count_if(val))
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
        return asdict(self)


CURATED_TABLE = "curated"          # (id, text, split, content_md5, sig)
HOSTS_TABLE = "host_counts"        # (host, n) — log-structured quota ledger
HOSTS_SCHEMA = "host string, n long"
SEM_CENTROIDS_TABLE = "sem_centroids"  # (cell, centroid) — frozen quantizer
SEM_CELLS_TABLE = "sem_cells"      # (id, cell, cell_cos, embedding) — semantic index


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
    Both build their decision frame with :func:`_decisions`; this one
    passes it the stored state below, so over a fresh warehouse it keeps
    exactly the rows ``curate_corpus`` keeps.

    Stored state — each population once, its index columns on its own
    rows; readers project the columns they need:

    * ``curated`` — (id, text, split, content_md5, sig): the corpus, each
      doc with its md5 (the exact-dup index; its ids are the idempotence
      ledger) and its MinHash signature.  Each batch joins its bands
      against :func:`dedup.minhash_bands` of the stored signatures
      (:func:`dedup.minhash_pairs`) — a column-pruned scan of ``(id,
      sig)``, ~300 B/doc: the corpus text is NEVER re-scanned or
      re-signed;
    * with ``embedding_col``: ``sem_centroids`` and ``sem_cells`` — the
      semantic index (SemDeDup): the centroids, and the survivors' (id,
      cell, cell_cos, embedding) rows from
      :func:`similarity.semantic_index`.  Centroids freeze at the first
      embedded batch (the tiered_ingest frozen-bounds discipline); each
      batch assigns only ITSELF to them and scores new-vs-members inside
      touched cells (:func:`similarity.incremental_semantic_candidates`),
      corpus wins, then smallest id within the batch.

    Batch flow: :func:`_decisions` — already-ingested ids drop first (a
    replayed batch is a no-op), line frequencies are per batch (corpus
    boilerplate drift is a periodic re-curation's job), and the stored
    md5 keys and LSH index win over the batch — then semantic dedup,
    optional decontamination and the salted split.  Survivors publish
    with their index columns in ONE atomic multi-table commit, so the
    index can never disagree with the corpus.

    Host quotas are CROSS-BATCH: with ``max_per_host`` (explicit
    ``url_col`` required, same contract as curate_corpus) the warehouse
    keeps a log-structured ``host_counts`` table (append per commit,
    summed at read) and each batch's per-host allowance is
    ``max_per_host - already_kept``; the counts delta for docs the batch
    actually APPENDS rides the same atomic commit, so the quota can
    never drift from the corpus.  Empty-host rows are exempt, matching
    urls.host_caps.

    Audit: the decision frame (see curate_corpus) also carries the
    survivors' MinHash signature, url and semantic cell, and its one
    checkpoint fills every report count.  The stage writes plan from
    that checkpoint, so an appending batch runs 1 execution + one per
    published table (1 + 1 with neither quotas nor embeddings), and a
    replayed or fully-rejected batch runs the checkpoint alone.  The
    Python stages (signature UDF, cell assignment) run once per doc into
    cached frames; those and the checkpoint blocks are released before
    the call returns, so a call leaves no persistent RDD behind.  ``out``
    (id, text, split) reads the curated files this call staged: no
    cache, nothing to release, and every read of it reads those files
    again.  (On the parquet
    warehouse they are the committed directory itself; on an Iceberg
    catalog the commit copies the staged table and drops it, so read
    :func:`read_curated` at ``rep.snapshot_id`` there.)
    """
    from .io.tables import empty_frame, open_warehouse

    rep = IncrementalReport()
    wh = open_warehouse(spark, warehouse_root)
    id_dt = batch.schema[id_col].dataType.simpleString()
    # the index columns only: the corpus text is never read back
    schemas = {
        CURATED_TABLE: f"{id_col} {id_dt}, content_md5 string, sig array<bigint>",
    }
    if max_per_host:
        schemas[HOSTS_TABLE] = HOSTS_SCHEMA
    stored = {t: wh.read(spark, t, schema=schema) for t, schema in schemas.items()}

    # the cached frames and the checkpoint blocks are released on the
    # way out, whatever happens
    with ExitStack() as held:
        dec, signed = _decisions(
            batch, id_col, text_col, rep.stages, held, stored,
            blocklist=blocklist, max_per_host=max_per_host, url_col=url_col,
            near_threshold=near_threshold, min_words=min_words,
            max_line_frac=max_line_frac, scrub=scrub, gopher_kwargs=gopher_kwargs,
        )
        held.callback(signed.unpersist)

        # semantic dedup (SemDeDup) against the stored frozen-centroid index,
        # with the MinHash stage's keeper rule.  Embeddings are recovered
        # from the RAW batch by id (the payload stages projected them away);
        # docs without a (nonzero) embedding carry no semantic signal and
        # never drop here.  Centroids FREEZE at the first embedded batch —
        # the tiered_ingest frozen-bounds discipline; re-clustering is a
        # periodic maintenance rebuild, not the hot path.
        new_cells = None
        if embedding_col is not None:
            import numpy as np

            from .operators import similarity as sim

            emb_dt = batch.schema[embedding_col].dataType.simpleString()
            cts_rows = (
                wh.read(spark, SEM_CENTROIDS_TABLE,
                        schema="cell bigint, centroid array<double>")
                .orderBy("cell").collect()
            )
            first_sem = not cts_rows
            cts, assigned = sim.semantic_index(
                _live(dec).select(id_col)
                .join(batch.select(F.col(id_col), F.col(embedding_col)), id_col),
                id_col, embedding_col, n_cells=semantic_cells, sample_size=4096,
                centroids=None if first_sem else np.array(
                    [r["centroid"] for r in cts_rows], dtype=np.float64
                ),
            )
            if len(cts):
                # the Arrow cell assignment runs once: the candidate search
                # and the survivors' index rows read this cached frame
                new_cells = assigned.persist()
                held.callback(new_cells.unpersist)
                # two projections: the vectors stay off the cell semi-join
                sem_index = wh.read(
                    spark, SEM_CELLS_TABLE, schema=f"id {id_dt}, cell bigint, "
                    f"cell_cos double, embedding {emb_dt}",
                )
                sem_cands = sim.incremental_semantic_candidates(
                    new_cells, sem_index.select("id", "cell", "cell_cos"),
                    sem_index.select("id", F.col("embedding").alias(embedding_col)),
                    "id", embedding_col, threshold=semantic_threshold,
                )
                losers = _near_dup_losers(
                    sem_cands, new_cells.select(F.col("id").alias(id_col)), id_col
                )
                dec = _drop_ids(
                    dec, losers, id_col, "semantic_dedup", text_col, listed=True
                ).join(
                    new_cells.select(
                        F.col("id").alias(id_col), "cell", "cell_cos",
                        F.col(embedding_col).alias("_emb"),
                    ),
                    id_col, "left",
                )
            rep.stages.append("semantic_dedup_incremental")

        dec = _decontaminate(dec, benchmark, id_col, text_col, rep.stages)

        ck, m = _count_decisions(dec, _LABELS, checkpoint=True)
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
        rows = curation.split_by_hash(surv, id_col, val_fraction=val_fraction).select(
            id_col, text_col, "split",
            F.md5(F.col(text_col)).alias("content_md5"), "sig",
        )
        out_cols = [id_col, text_col, "split"]
        if rep.n_appended == 0:
            # fully-rejected (or fully-memoized) batch: nothing to publish —
            # don't burn a snapshot on empty appends
            rep.snapshot_id = wh.current_snapshot_id()
            rep.stages.append("noop_commit")
            return empty_frame(spark, rows.select(*out_cols).schema), rep

        # the survivors with their md5 and signature, and the other
        # tables, publish in one atomic commit (the index can never
        # diverge from the corpus); every stage write reads the checkpoint
        curated = wh.stage(rows, CURATED_TABLE)
        staged = {CURATED_TABLE: [curated]}
        if new_cells is not None:
            # semantic index rows for the survivors ride the SAME atomic
            # commit (the cell index can never diverge from the corpus);
            # docs without a nonzero embedding simply have no rows.
            # Frozen centroids publish once, with the first embedded batch
            # that actually appends (an all-rejected first batch retrains
            # next time — nothing stored, nothing to drift from).
            embedded = surv.filter(F.col("cell").isNotNull()).select(
                F.col(id_col).alias("id"), "cell", "cell_cos",
                F.col("_emb").alias("embedding"),
            )
            staged[SEM_CELLS_TABLE] = [wh.stage(embedded, SEM_CELLS_TABLE)]
            if first_sem:
                staged[SEM_CENTROIDS_TABLE] = [wh.stage(
                    sim.centroids_to_df(spark, cts), SEM_CENTROIDS_TABLE
                )]
        if max_per_host:
            # quota delta = hosts of the docs this batch ACTUALLY appends —
            # same atomic commit, so quota state never drifts from the corpus
            delta = (
                surv.select(urls.host_of(F.col(url_col)).alias("host"))
                .filter(F.col("host") != "")
                .groupBy("host")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            staged[HOSTS_TABLE] = [wh.stage(delta, HOSTS_TABLE)]
        # the returned frame reads the staged files, not the checkpoint
        # released on the way out (resolved before the commit consumes
        # the handle on an Iceberg catalog)
        out = wh.read_staged(spark, curated, schema=rows.schema).select(*out_cols)
        rep.snapshot_id = wh.commit(staged)
        rep.stages.append("atomic_commit")
        return out, rep


def compact_warehouse(
    spark,
    warehouse_root: str,
    tables: "list[str] | None" = None,
    retain_last: "int | None" = None,
) -> int:
    """Compact the curation warehouse: rewrite each table's CURRENT
    committed state into one fresh directory and publish a single atomic
    replace-commit (the warehouse's ``compact``, the same call on both
    branches) — the maintenance pass continuous ingestion needs, because
    :func:`curate_incremental` appends one directory per batch to
    ``curated`` and ``host_counts`` (and :func:`tiered_ingest` to its
    tables) forever, and at daily batches the index scan's file listing
    and the summed host-quota log grow without bound.

    * ``host_counts`` and ``tier_counts`` are FOLDED (summed per key) —
      the log-structured ledgers collapse to one row per key with
      identical read-side semantics (reads always sum) — in the
      partitions adaptive execution coalesces the fold into (one file
      for a small ledger).  The folds read with the ledgers' known
      schemas, so they infer nothing from parquet footers.
    * Every other table is rewritten as it is: by the parquet emulation
      in one file per ``spark.sql.files.maxPartitionBytes`` of its data
      (one file for a small table), by an Iceberg catalog with
      ``CALL system.rewrite_data_files``.
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
        CURATED_TABLE, HOSTS_TABLE, TIERED_TABLE, TIER_BOUNDS_TABLE,
        TIER_COUNTS_TABLE, TIER_QUALS_TABLE, SEM_CENTROIDS_TABLE,
        SEM_CELLS_TABLE,
    ]
    # the ledger folds (reads always sum, so the summed form is
    # read-identical); every other table is compacted as it is.  A
    # never-committed ledger reads empty and compact skips it
    folds = {
        HOSTS_TABLE: lambda: wh.read(
            spark, HOSTS_TABLE, schema=HOSTS_SCHEMA
        ).groupBy("host").agg(F.sum("n").alias("n")),
        TIER_COUNTS_TABLE: lambda: wh.read(
            spark, TIER_COUNTS_TABLE, schema=TIER_COUNTS_SCHEMA
        ).groupBy("tier", "grp").agg(
            F.sum("n_seen").alias("n_seen"), F.sum("n_kept").alias("n_kept")
        ),
    }
    plan = {t: folds[t]() if t in folds else None for t in tables}
    return wh.compact(spark, plan, retain_last=retain_last)


def read_curated(
    spark,
    warehouse_root: str,
    snapshot_id: "int | None" = None,
    split: "str | None" = None,
) -> DataFrame:
    """Committed curated corpus (id, text, split) — the ``curated`` rows
    without their index columns — optionally time-traveled to
    ``snapshot_id`` and filtered to one ``split`` ('train'/'val'): the
    read-side mirror of pipeline.read_extracted for the curation
    tables."""
    from .io.tables import open_warehouse

    wh = open_warehouse(spark, warehouse_root)
    df = wh.read(spark, CURATED_TABLE, snapshot_id=snapshot_id).drop(
        "content_md5", "sig"
    )
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
TIER_COUNTS_SCHEMA = "tier long, grp string, n_seen long, n_kept long"
TIER_QUALS_TABLE = "tier_quals"    # (id, quality, grp) — every doc ever seen


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
      ledger (append per commit, summed at read);
    * ``tier_quals``   — (id, quality, grp) of every doc ever PROCESSED,
      kept or rejected: the seen population :func:`retier_warehouse`
      re-tiers, and (its id projection) the memo ledger.

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

    Re-running a batch is a no-op: the ids of ``tier_quals`` are the
    memo ledger of every doc ever PROCESSED (kept or rejected — a
    kept-only ledger would re-count a replayed batch's rejected docs as
    fresh ``n_seen`` and inflate future quotas), and a fully-rejected
    batch still commits its seen docs + counts — they raise future
    allowances.  Kept rows, seen docs' scores, count deltas, and (first
    batch) bounds publish in ONE atomic commit.

    Single-pass audit: a batch runs exactly ONE probe action — a
    ``noop`` write of every batch row flagged new or already seen, with
    ``n_batch``/``n_new`` observed at its root, which also fills the
    batch-scan cache — plus one tiny bounds read (GK sketch on the
    first batch, a collect of the frozen cutoffs after).  ``n_kept`` and
    the per-tier histogram are observed at the root of the ``tiered``
    stage write itself.  A replayed batch short-circuits at the probe:
    EXACTLY one execution, no tier plan built, no staging, no snapshot.

    Returns ``(kept_df, report)``.  The cached frames (flagged batch,
    narrow scores, kept set) are released before the call returns, on
    every exit path, so a call leaves no persistent RDD behind.
    ``kept_df`` reads the ``tiered`` files this call staged: no cache,
    nothing to release.  (On the parquet warehouse they are the
    committed directory itself; on an Iceberg catalog the commit copies
    the staged table and drops it, so read ``tiered`` at
    ``report["snapshot_id"]`` there.)
    """
    from .io.tables import open_warehouse

    wh = open_warehouse(spark, warehouse_root)
    id_dt = batch.schema[id_col].dataType.simpleString()
    rep: dict = {}
    # the memo ledger: the id projection of the seen-population scores
    seen_ids = wh.read(spark, TIER_QUALS_TABLE, schema=f"{id_col} {id_dt}")
    # the cached frames are released on the way out, whatever happens
    with ExitStack() as held:
        # every batch row flagged once, persisted: the probe action below
        # fills this cache, so the raw batch is scanned ONCE per ingest
        # however many consumers follow (tier join, scores stage) — the
        # r6 design re-scanned it per count.  tier_quals holds each id once.
        flagged = batch.join(
            seen_ids.select(id_col, F.lit(True).alias("_seen")), id_col, "left"
        ).persist()
        held.callback(flagged.unpersist)
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
        held.callback(narrow.unpersist)

        # tier cutoffs: tiny — the frozen bounds are < n_tiers rows (none
        # at one tier), and the first batch (no committed bounds table:
        # the read raises the empty-table ValueError without touching
        # Spark) sketches them from narrow, which fills its cache
        try:
            stored_bounds = wh.read(spark, TIER_BOUNDS_TABLE).collect()
            first_batch = False
        except ValueError:
            first_batch = True
        if first_batch:
            bounds = curation.approx_tier_bounds(
                narrow, qcol, n_tiers=n_tiers, relative_error=relative_error
            )
        else:
            bounds = [
                r["cutoff"] for r in sorted(stored_bounds, key=lambda r: r["tier"])
            ]
        rep["tier_bounds"] = bounds
        rep["first_batch"] = first_batch

        assigned = narrow.withColumn("tier", curation.tier_of(F.col(qcol), bounds))

        prev = (
            wh.read(spark, TIER_COUNTS_TABLE, schema=TIER_COUNTS_SCHEMA)
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
                    curation.sqrt_quota(F.col("_m_tot"), quota_coeff)
                    - F.col("_k_prev"),
                ),
            )
        )
        sized = assigned.join(F.broadcast(cells), ["tier", "_grp"])
        kept = (
            curation.quota_lottery(sized, id_col, ["tier", "_grp"], "_allow")
            .select(id_col, "tier", "_grp", F.col(qcol))
            .persist()
        )
        held.callback(kept.unpersist)
        sel = [F.col(id_col), F.col("tier")]
        if quality_col is None:
            # surface the internally-computed score; a caller-provided
            # quality column is already on the batch rows
            sel.append(F.col(qcol).alias("quality"))
        out = new.join(kept.select(*sel), id_col)

        # delta rows: EVERY seen doc counts toward future allowances, kept
        # or not; kept counts come from the same kept set the corpus
        # append uses, so the ledger can never drift from the table
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
        # TIERED stage write itself (which also materializes kept's cache)
        # — no count(), no collect()
        obs_out = Observation()
        tiered = wh.stage(out.observe(
            obs_out,
            F.count(F.lit(1)).alias("n"),
            *[F.count_if(F.col("tier") == i).alias(f"t_{i}")
              for i in range(1, n_tiers + 1)],
        ), TIERED_TABLE)
        staged = {
            TIERED_TABLE: [tiered],
            TIER_COUNTS_TABLE: [wh.stage(delta, TIER_COUNTS_TABLE)],
            # the seen-population ledger (~16 B/doc — same narrow
            # projection the decisions ran on, read from its cache): the
            # memo ids, and what makes retier_warehouse exact later
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
            staged[TIER_BOUNDS_TABLE] = [wh.stage(
                curation.tier_bounds_frame(spark, bounds), TIER_BOUNDS_TABLE
            )]
        # the returned frame reads the staged files, not the caches
        # released on the way out (resolved before the commit consumes
        # the handle on an Iceberg catalog)
        out = wh.read_staged(spark, tiered, schema=out.schema)
        rep["snapshot_id"] = wh.commit(staged)
        m = obs_out.get
        rep["n_kept"] = int(m["n"])
        rep["kept_per_tier"] = {
            i: int(m[f"t_{i}"]) for i in range(1, n_tiers + 1) if int(m[f"t_{i}"]) > 0
        }
        return out, rep


def retier_warehouse(
    spark,
    warehouse_root: str,
    id_col: str = "doc_id",
    *,
    n_tiers: "int | None" = None,
    quota_coeff: float = 8.0,
    relative_error: float = 1e-3,
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
    which never rewrites history on either branch).  Each rewritten
    table is staged in the partitions adaptive execution coalesces its
    plan into (one file for the tiny bounds and counts tables).

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

    # the cached ledger is released on the way out, whatever happens
    with ExitStack() as held:
        quals = quals.persist()
        held.callback(quals.unpersist)
        bounds = curation.approx_tier_bounds(
            quals, "quality", n_tiers=n_tiers, relative_error=relative_error
        )

        assigned = quals.withColumn(
            "_rt_tier", curation.tier_of(F.col("quality"), bounds)
        )
        cells = (
            assigned.groupBy("_rt_tier", "grp")
            .agg(F.count("*").alias("n_seen"))
            .withColumn(
                "_rt_quota", curation.sqrt_quota(F.col("n_seen"), quota_coeff)
            )
        )

        stored = wh.read(spark, TIERED_TABLE)
        out_cols = list(stored.columns)
        # candidates = stored keeps re-mapped to their new tier; the stored
        # table is already quota-bounded (≤ c*sqrt(m) per old cell), so
        # this side is small next to the corpus scan that produced it
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
        kept = curation.quota_lottery(
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

        # n_kept: observed at the root of the frame the tiered write runs
        obs_kept = Observation()
        snap = wh.compact(spark, {
            TIERED_TABLE: new_tiered.observe(
                obs_kept, F.count(F.lit(1)).alias("n")
            ),
            TIER_BOUNDS_TABLE: curation.tier_bounds_frame(spark, bounds),
            TIER_COUNTS_TABLE: new_counts,
        })
        return snap, {
            "snapshot_id": snap,
            "old_bounds": old_bounds,
            "new_bounds": bounds,
            "n_tiers": n_tiers,
            "n_kept": int(obs_kept.get["n"]),
        }
