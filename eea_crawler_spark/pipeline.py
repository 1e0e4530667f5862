"""End-to-end sync pipeline: the reference's d0→d7 DAG chain as one job.

Composes the layers into the SURVEY §3.1 "Spark shape":

    listing scan → robots/type/quarantine filters → diff vs state (J1)
      → distributed fetch (S5) [+ page scrape S6, attachments S7]
      → raw upsert → normalize chain (§2.5, changed ids ONLY)
      → per-site plugins (T28) → NLP chunking [+ chunk embeddings]
      → searchui upsert → guarded deletes (J2/J3)
      → quarantine fold (A7) → status events

The normalize leg is incremental: only docs fetched this run flow
through the chain (the reference's d3→d5 unit of work); re-deriving the
whole corpus is ``run_renormalize``'s job. A zero-change quick sync
reads the listing, joins ids, and stops — O(changed), not O(corpus).

What was five Airflow DAG hops through a scheduler database collapses
into two lazy plans separated by the raw-table MERGE barrier; every
intermediate is a DataFrame, so Catalyst prunes columns end-to-end and
the only shuffles are the id-keyed joins/merges. Pools and per-site
serialization become partitioning (fetch_docs repartitions by host).

This module is deliberately thin — it owns sequencing and the state
tables, not logic. Every step is the already-tested operator.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from functools import partial

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eea_crawler_spark.operators import incremental as INC
from eea_crawler_spark.operators.normalize_chain import (
    DEFAULT_CONFIG,
    NormalizerConfig,
    common_normalizer,
)
from eea_crawler_spark.operators.sites import (
    normalize_by_site,
    nlp_preprocess_by_site,
)
from eea_crawler_spark.sinks import indexes as SK
from eea_crawler_spark.sinks import lakehouse as LK
from eea_crawler_spark.sources import acquire as AQ

# Batch-size boundary between the two parquet merge plans: below it the
# update KEY set (8-byte-ish per key) broadcasts comfortably and the
# zero-state-shuffle merge wins outright; above it the batch is a
# meaningful fraction of the state and the union→window plan's single
# shuffle is the better trade. Delta runtimes ignore this (MERGE INTO
# is O(changed files) at any batch size).
BROADCAST_MERGE_MAX_ROWS = 1_000_000


@dataclass
class SyncConfig:
    site_url: str
    site_id: str
    api_part: str = "api"
    portal_types: list[str] = field(default_factory=lambda: ["Document"])
    # per-language listing walks (build_queries_list
    # plone_rest_api.py:114-118 — un-typed {site}/{lang}/@search
    # queries; the eea site lists 32 language trees this way)
    languages: list[str] = field(default_factory=list)
    types_blacklist: list[str] = field(default_factory=list)
    threshold_pct: int = INC.DELETE_THRESHOLD_PCT
    quick_since: str | None = None
    normalizer: NormalizerConfig = field(default_factory=lambda: DEFAULT_CONFIG)
    # "driver" = page walk on the driver (small listings);
    # "datasource" = the plone_listing Python DataSource scan —
    # partition-per-portal-type with filter pushdown (the scale path);
    # "provided" = listing_provider below supplies the listing relation
    listing_source: str = "driver"
    # Explicit listing seam (the reference's crawl-for-explicit-ids
    # entry, trigger d3_crawl_fetch_for_id with an obj_list instead of a
    # site walk): a callable (spark) -> DataFrame with LISTING_SCHEMA
    # columns (id, doc_type, modified, seo_noindex). Used when
    # listing_source == "provided"; also what the sync scale bench uses
    # to drive a multi-million-row listing without a driver-side walk.
    listing_provider: Callable[[SparkSession], DataFrame] | None = None
    # S7 age guard: only docs modified within N days get attachment
    # extraction (0 = no limit; plone_rest_api.py:365-382)
    pdf_days_limit: int = 0
    # S6 scrape leg (scrape_pages site config, plone_rest_api.py:240-258):
    # fetch each doc's rendered page (no-api URL) and carry it as
    # web_html; the chain's fulltext then uses the html extraction
    # (html_extract below) instead of the joined text fields.
    scrape_pages: bool = False
    # scrape_with_js sites render through the headless-chrome endpoint
    # (scrape_with_retry's js branch, plone_rest_api.py:206-223): the
    # flag rides the config; the POST-vs-GET behavior lives in the
    # injected scrape transport (acquire.headless_chrome_transport
    # builds the reference's request shape)
    scrape_with_js: bool = False
    # site trafilatura config for the html→text extraction
    # (main_by_css_selector / remove_by_selector / skip_… — reference
    # trafilatura_extract.py:66-131); routed into the normalizer's
    # fulltext stage when scraping is on
    html_extract: dict = field(default_factory=dict)
    # d5 NLP leg (preprocess_doc, normalizers/normalizer.py:40-112):
    # chunk fulltext into nlp_250 structs on synced searchui docs
    # (variables.json:2319-2327 shape). On by default like the
    # reference's nlp_preprocessing for search sites.
    nlp: bool = True
    # chunk embeddings: the reference ships with
    # ``disable_embeddings = True`` (normalizer.py:42) and the embedding
    # service behind a seam — mirrored here: off by default; when on,
    # chunk embeddings are merged into ``SyncPaths.chunks``.
    embed: bool = False
    # reference URL plumbing (get_api_url/get_doc_from_plone,
    # plone_rest_api.py:10-47,190-199): when on, fetch targets the
    # doc's API request URL (url_api_part inserted or the fix_items_url
    # prefix swap, plus expand=object_provides&eea_index=1) while ids
    # stay the listed URLs. Off by default — test transports serve
    # listed ids verbatim.
    api_url_rewrite: bool = False
    fix_items_url: dict | None = None
    # get_no_api_url's site-level scrape-URL override
    # (plone_rest_api.py:54-55): when set, every scrape hits this URL
    url_to_parse: str | None = None
    # cache-busting stamps (avoid_cache_api / avoid_cache_web sites):
    # &crawler=<stamp> on fetches, ?scrape=<stamp> on scrapes
    avoid_cache_api: bool = False
    avoid_cache_web: bool = False
    # State-table format for the sync's raw/searchui/chunks merges:
    # "auto" = existing layout wins; new tables use Delta when the
    # session has it, else plain parquet (copy-on-write swap). "mor" =
    # merge-on-read parquet (sinks.lakehouse module docstring): each
    # merge appends an O(batch) segment instead of rewriting the
    # corpus — the layout a standing multi-million-doc corpus wants in
    # a non-Delta environment (quick-sync floor measurement in
    # BASELINE.md). Opt-in because plain spark.read.parquet on a MOR
    # dir sees only the base — readers must go through LK.read_table,
    # which everything in this engine does.
    state_backend: str = "auto"
    # Bucket the state tables on their key at creation (mor backend
    # only): every sync's listing×state joins (J1 diff, J2/J3 deletes)
    # then run with ZERO state-side Exchange — the corpus never
    # re-shuffles on a quick sync, only the listing co-partitions into
    # the bucket count. Size like shuffle partitions (~64 MB/bucket).
    state_buckets: int | None = None
    # Nightly dedup maintenance leg (run_dedup_maintenance below) over
    # this run's changed docs: delta-vs-corpus pair probe → incremental
    # cluster fold → canonical keep/drop flag MERGE → serving-state
    # append, every step O(delta). First run with no serving state
    # bootstraps from the post-merge searchui corpus. None = off.
    dedup: "DedupConfig | None" = None
    # Nightly ANN serving-index leg (run_ann_maintenance below) over
    # this run's chunk embeddings (requires embed=True and
    # paths.chunks): fresh chunks append to the persisted IVF index,
    # modified/deleted docs' chunks join the stale ledger, drift/stale
    # triggers surface needs_rebuild. The vector twin of the dedup leg
    # — the reference's dense_vector serving surface
    # (dags/lib/elastic.py:107-119). None = off.
    ann: "AnnConfig | None" = None


@dataclass
class SyncPaths:
    raw: str
    searchui: str
    quarantine: str
    status: str
    # chunk-embedding table (only written when SyncConfig.embed is on)
    chunks: str | None = None


def _empty_state(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "id string, modified string, errors array<string>"
    )


def _read_state(spark: SparkSession, path: str) -> DataFrame:
    # existence-probed, not try/except: a genuine read failure (corrupt
    # _mor/spec.json, bucketed-base registration error) must surface,
    # not be masked as "first run" — a masked failure would classify
    # the whole corpus as new and re-crawl over the damaged table
    if not LK.table_exists(path):  # first run: no table yet
        return _empty_state(spark)
    return LK.read_table(spark, path).select("id", "modified", "errors")


def _read_state_parts(spark, path):
    """Split state read for the diff/guard joins (LK.read_table_parts),
    projected to the three columns the sync compares. On a bucketed MOR
    base the untouched part keeps its layout, so the corpus-sized joins
    below run with no state-side Exchange. Missing table = first run;
    any OTHER failure propagates (see _read_state)."""
    if not LK.table_exists(path):  # first run: no table yet
        return _empty_state(spark), None, None
    base, overrides, keys = LK.read_table_parts(spark, path)
    cols = ["id", "modified", "errors"]
    base = base.select(*cols)
    if overrides is not None:
        overrides = overrides.select(*cols)
    return base, overrides, keys


def _read_quarantine(spark: SparkSession, path: str) -> DataFrame:
    if not LK.table_exists(path):  # first run: no ledger yet
        return spark.createDataFrame(
            [], "id string, error_cnt int, skip_cnt int, skipped boolean"
        )
    return LK.read_table(spark, path)


def run_sync(
    spark: SparkSession,
    cfg: SyncConfig,
    paths: SyncPaths,
    transport: AQ.Transport,
    robots_rules: list[tuple[str, bool]] | None = None,
    converter: AQ.Transport | None = None,
    fold_quarantine: bool = True,
    scrape_transport: AQ.Transport | None = None,
) -> dict[str, int]:
    """One full sync for one site. Returns step counts for the status
    stream (the reference's per-run status docs, status.py:115-163).

    ``fold_quarantine=False`` defers the app-level error-budget fold to
    the caller (``run_sync_all`` folds ONCE per sweep, the reference's
    one ``test_errors`` per ``d1_sync``, instead of once per site)."""
    import os as _os
    import sys as _sys
    import time as _time

    _timing = _os.environ.get("SPARK_GRAFT_SYNC_TIMING") == "1"
    _t0 = _time.perf_counter()

    def _mark(step: str) -> None:
        # step-wall telemetry for the scale bench (SPARK_GRAFT_SYNC_TIMING=1):
        # prints the cumulative wall at each pipeline barrier so a slow
        # sync decomposes without code edits
        nonlocal _t0
        if _timing:
            now = _time.perf_counter()
            print(f"[sync:{cfg.site_id}] {step}: +{now - _t0:.2f}s", file=_sys.stderr)
            _t0 = now

    SK.status_event(spark, paths.status, f"sync:{cfg.site_id}", "started")
    run_stamp = uuid.uuid4().hex[:12]
    _mark("status_start")

    # 1. listing scan (S1) + source-side filters (P2-P8)
    if cfg.listing_source == "datasource":
        from eea_crawler_spark.sources.plone_datasource import plone_listing_df

        listing_raw = plone_listing_df(
            spark,
            cfg.site_url,
            transport=transport,
            api_part=cfg.api_part,
            portal_types=cfg.portal_types,
            quick_since=cfg.quick_since,
            fix_items_url=cfg.fix_items_url,
            languages=cfg.languages,
        )
        if cfg.languages:
            # language partitions are un-typed, so a doc can be listed
            # by both its portal-type and language walk — collapse to
            # the reference's id-keyed dict semantics
            listing_raw = listing_raw.dropDuplicates(["id"])
    elif cfg.listing_source == "provided":
        listing_raw = cfg.listing_provider(spark)
    else:
        listing_raw = AQ.listing_df(
            spark,
            transport,
            cfg.site_url,
            cfg.api_part,
            cfg.portal_types,
            quick_since=cfg.quick_since,
            fix_items_url=cfg.fix_items_url,
            languages=cfg.languages,
            # the reference stamps every listing query (&ts=,
            # build_queries_list :104) — one stamp per run here
            ts=run_stamp,
        )
    # snapshot: the listing is reused after the state tables are swapped
    # below — cut its lineage to the pre-swap files (small: ids + stamps;
    # Delta's transaction log makes this unnecessary in prod).
    listing_raw = listing_raw.localCheckpoint(eager=True)
    _mark("listing_ckpt")

    # 2. THE FUSED SWEEP: source filters (P2-P8) + quarantine (P9) ride
    # the unfiltered listing as FLAGS, and one full-outer join against
    # the state answers the diff (J1) AND the deletion guard (J2+J3) in
    # a single corpus-join execution (INC.sync_sweep_parts — the diff
    # and the guard used to join the same relations on the same key
    # three executions deep). The guard still sees the PRE-sync state
    # (the reference's prev_es_docs_len denominator,
    # crawl_plone_restapi.py:44,131-141) and quarantined docs the
    # source still lists stay preserved regardless of other filters
    # (the 'Document had errors' branch, :99-103) — quarantine must
    # never cause a serving-index delete.
    ledger = _read_quarantine(spark, paths.quarantine)
    skip_ids = ledger.filter(F.col("skipped")).select("id")
    passes = ~F.coalesce(F.col("seo_noindex"), F.lit(False))  # P8
    if cfg.types_blacklist:
        passes &= ~F.col("doc_type").isin(cfg.types_blacklist)  # P7
    if robots_rules:
        passes &= AQ.robots_verdict(robots_rules)  # P4
    quarantined = F.col("__q").isNotNull()
    lf = (
        listing_raw.join(
            F.broadcast(skip_ids.withColumn("__q", F.lit(True))), "id", "left"
        )
        .withColumn("__fetchable", passes & ~quarantined)
        .withColumn("__preserved", passes | quarantined)
        .drop("__q")
    )
    state_parts = _read_state_parts(spark, paths.raw)
    due, doomed, errored_pre, _n_prev, _n_del, allowed, ratio = (
        INC.sync_sweep_parts(lf, state_parts, threshold_pct=cfg.threshold_pct)
    )
    if not allowed:
        doomed = None
    _mark("sweep")

    # 3. distributed fetch (S5) + raw envelope assembly → raw MERGE
    # snapshot: one network pass, reused for failures after the swaps
    url_of = None
    if cfg.api_url_rewrite:
        url_of = partial(
            AQ.fetch_query_url,
            api_part=cfg.api_part,
            fix_items_url=cfg.fix_items_url,
            cache_bust=run_stamp if cfg.avoid_cache_api else None,
        )
    # DISK_ONLY, not the default MEMORY_AND_DISK: on a bulk (re)crawl
    # the fetched bodies are corpus-sized (7.5 GB at 5M docs) and a
    # memory-resident checkpoint pins them in JVM storage right through
    # the merge stages that need the heap for their sorts/builds —
    # measured as a hard heap OOM at 5M docs (round-7 VERDICT #7
    # predicted it). On disk the OS page cache keeps the hot segments
    # resident, so the ~3 re-reads stay cheap while the heap is free.
    fetched = AQ.fetch_docs(
        due.select("id"), transport, url_of=url_of
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    _mark("fetch")
    # build-side hint: both sides are stats-less checkpoints, and AQE's
    # shuffled-hash conversion (all sides under the threshold) has been
    # observed building the WIDE fetched side (~235 MB decompressed per
    # partition × all cores = OOM at 5M docs). The hint pins the build
    # to the narrow due projection (~100 B/row — per-partition build
    # stays tens of MB at any corpus whose shuffle partitions are sized
    # to the data); the wide envelopes stream past it.
    envelopes = fetched.join(
        due.select("id", "doc_type", "modified").hint("shuffle_hash"), "id"
    )
    if converter is not None:
        # S7: attachment text via the converter service; per-doc errors
        # merge into the envelope's errors[] (never failing the row)
        from eea_crawler_spark.sources.attachments import extract_attachments

        envelopes = (
            extract_attachments(
                envelopes, converter, pdf_days_limit=cfg.pdf_days_limit
            )
            .withColumn("errors", F.concat("errors", "pdf_errors"))
            .drop("pdf_errors")
        )
    else:
        envelopes = envelopes.withColumn("pdf_text", F.lit(None).cast("string"))
    if cfg.scrape_pages:
        # S6: rendered-page scrape for this run's due docs only; a failed
        # scrape records its error but keeps the row (the chain's
        # fulltext falls back to the joined text fields)
        # snapshot: like fetch_docs above, ONE network pass — envelopes
        # is executed three times below (count, changed_ids checkpoint,
        # raw upsert) and a re-run would re-scrape every page
        scraped = AQ.scrape_docs(
            due.select("id"),
            scrape_transport or transport,
            cfg.api_part,
            fix_items_url=cfg.fix_items_url,
            cache_bust=run_stamp if cfg.avoid_cache_web else None,
            url_to_parse=cfg.url_to_parse,
        ).localCheckpoint(  # DISK_ONLY: same corpus-sized-body rationale
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
        envelopes = (
            envelopes.join(scraped, "id", "left")
            .withColumn(
                "errors",
                F.concat("errors", F.coalesce("scrape_errors", F.array())),
            )
            .drop("scrape_errors")
        )
    else:
        envelopes = envelopes.withColumn("web_html", F.lit(None).cast("string"))
    envelopes = envelopes.withColumns(
        {
            "original_id": F.col("id"),
            "site_id": F.lit(cfg.site_id),
            "site": F.lit(cfg.site_url),
            "indexed_at": F.current_timestamp(),
        }
    )
    # Single-network-pass accounting WITHOUT a corpus checkpoint: the
    # side-effecting stages are already materialized once (fetch_docs
    # and scrape_docs checkpoint above), and fetch emits EXACTLY one
    # row per due doc (error rows included), so the fetched count and
    # the changed-id set are free projections of the tiny checkpointed
    # diff — no action ever re-executes a network stage, and the
    # envelope assembly itself runs once, at the raw merge. (A round-6
    # experiment checkpointed the assembled envelopes instead: the
    # corpus-sized DISK_ONLY write cost +37 s on a 5M-doc bulk crawl
    # against ~nothing saved — the assembly is two joins over already-
    # checkpointed inputs. MEMORY_AND_DISK was worse still: storage
    # starved the unified memory manager, UNABLE_TO_ACQUIRE_MEMORY.)
    # The attachments converter is the one side-effecting stage NOT
    # checkpointed above, so its branch pays the barrier — re-running
    # the converter on every downstream action would re-download every
    # attachment.
    if converter is not None:
        envelopes = envelopes.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    n_fetched = due.count()
    _mark("n_fetched")
    # id set of THIS run's fetched docs — the only rows the normalize
    # step may touch; survives the raw-table swap (due is checkpointed)
    changed_ids = due.select("id")
    # the batch was just counted: a quick sync's small batch takes the
    # zero-state-shuffle broadcast merge; a bulk (re)crawl keeps the
    # window plan that is right when the batch is state-sized
    merge_strategy = (
        "broadcast" if n_fetched <= BROADCAST_MERGE_MAX_ROWS else "window"
    )
    # a zero-due sync has nothing to merge — skip the empty-batch write
    # (on MOR it would append a useless empty segment per sync); the
    # first run still creates the table so downstream readers find it
    if n_fetched or not LK.table_exists(paths.raw):
        SK.upsert_index(
            spark, paths.raw, envelopes, key="id", order_col="indexed_at",
            strategy=merge_strategy, backend=cfg.state_backend,
            n_buckets=cfg.state_buckets, batch_rows=n_fetched,
            # one envelope per due id (fetch_docs contract + 1:1 joins):
            # the within-batch dedup window is a provable no-op — at 5M
            # docs skipping it removes a full corpus shuffle+sort
            unique_keys=True,
        )
    _mark("raw_merge")

    # 4. quarantine fold (A7): the ledger folds the CURRENT errored set
    # (docs whose stored envelope has errors after the merge — the
    # reference's get_all_ids_with_error scan), so a doc refetched
    # cleanly this run drops out of the ledger immediately. The post-
    # merge errored set needs NO corpus scan: stored errors changed
    # only for the docs merged this run, so it is exactly (pre-sync
    # errored ∖ fetched this run) ∪ (this run's envelopes with errors)
    # — the sweep checkpoint plus the checkpointed fetch/scrape
    # outputs. (``fold_app_quarantine`` keeps the corpus-scan fold for
    # the once-per-sweep app-level path.)
    if fold_quarantine:
        # anti-join on the ids actually MERGED this run (the envelope
        # set), not the due set: identical under the current fetch
        # contract (fetch_docs emits one row per due id), but if fetch
        # or the converter ever drops a row its still-errored stored
        # doc must stay in the ledger — keying on `due` would silently
        # reset its error budget
        env_err = envelopes.select("id", (F.size("errors") > 0).alias("__e"))
        if converter is None:
            # envelopes is un-checkpointed on this branch (the converter
            # branch checkpointed it above), so BOTH fold legs would
            # re-run the fetched×due assembly joins (round-8 ADVICE) —
            # one lazy narrow (id, bool) checkpoint feeds both
            env_err = env_err.localCheckpoint(eager=False)
        errored_now = errored_pre.join(
            env_err.select("id"), "id", "left_anti"
        ).unionByName(env_err.filter(F.col("__e")).select("id"))
        new_ledger = INC.quarantine_fold(
            ledger.select("id", "error_cnt", "skip_cnt"), errored_now
        )
        SK.replace_table(new_ledger, paths.quarantine)
    _mark("quarantine_fold")

    # 5. normalize (§2.5) + per-site plugins (T28) → searchui MERGE —
    # INCREMENTAL: only docs fetched THIS run flow to normalize (the
    # reference normalizes only what traveled d3→d5 this run,
    # d3_crawl_fetch_for_id.py:81-100); full reprocessing is
    # run_renormalize's job. At scale this makes a quick sync
    # O(changed), not O(corpus) — the id semi-join prunes the raw scan
    # before the chain ever runs.
    # Zero fetched docs ⇒ the changed-id semi-join is empty by
    # construction — skip even BUILDING the chain plan (the §2.5
    # column-expression tree costs ~2 s of driver-side construction,
    # measured on the 5M zero-change sync).
    if n_fetched:
        normalizer = cfg.normalizer
        if (
            cfg.scrape_pages
            and cfg.html_extract
            and normalizer.html_extract is None
        ):
            normalizer = replace(normalizer, html_extract=cfg.html_extract)
        raw_ok = (
            LK.read_table(spark, paths.raw)
            .join(changed_ids, "id", "left_semi")
            .filter(F.size("errors") == 0)
        )
        normalized = common_normalizer(raw_ok, normalizer)
        if "site_id" in normalized.columns:
            # one site per sync run: prune the dispatch to THIS site's
            # branch (+ the catch-all default). Without the prune the
            # union-of-branches re-derives the whole normalize-chain
            # subtree once per registered site (~20x the chain per
            # action — measured dominating the 50k-doc sync wall
            # before round 5).
            normalized = normalize_by_site(normalized, sites=[cfg.site_id])
        if cfg.nlp:
            # d5 NLP leg: nlp_250 chunk structs ride on the searchui doc
            # (variables.json:2319-2327); narrow transform, no shuffle
            normalized = nlp_preprocess_by_site(normalized, sites=[cfg.site_id])
        searchui = normalized.withColumn("indexed_at", F.current_timestamp())
        # n_norm via the chain (the count) + the merge = two chain runs
        # over the CHANGED docs only; a checkpoint barrier here was
        # measured a wash at 50k docs and a clear loss on corpus-sized
        # batches (the round-6 negative result above) — recompute beats
        # materialize for this pure, input-checkpointed plan.
        n_norm = searchui.count()
    else:
        n_norm = 0
    _mark("n_norm")
    chunks_batch = None
    vanished_chunks = None
    if n_norm:
        SK.upsert_index(
            spark, paths.searchui, searchui, key="id",
            order_col="indexed_at",
            strategy="broadcast"
            if n_norm <= BROADCAST_MERGE_MAX_ROWS
            else "window",
            backend=cfg.state_backend,
            n_buckets=cfg.state_buckets, batch_rows=n_norm,
            # one searchui row per changed id (the chain and the site
            # plugins are 1:1) — same no-op-dedup contract as raw above
            unique_keys=True,
        )
        if cfg.embed and paths.chunks and "fulltext" in searchui.columns:
            from eea_crawler_spark.operators.embeddings import embed_chunks

            chunks_batch = embed_chunks(
                searchui.select("id", "fulltext"), text_col="fulltext", id_col="id"
            ).withColumns(
                {
                    "chunk_id": F.concat_ws("#", "id", "chunk_idx"),
                    "indexed_at": F.current_timestamp(),
                }
            )
            # exact per-doc replacement (the reference rewrites a doc's
            # nlp_250 list wholesale, normalizer.py:40-112): chunk ids
            # a re-chunked doc no longer produces (the doc shortened)
            # must leave the table, or stale chunks pollute search and
            # the ANN index serves vectors for text that no longer
            # exists. Narrow scan: id + chunk_id columns only.
            vanished_chunks = None
            if LK.table_exists(paths.chunks):
                vanished_chunks = (
                    LK.read_table(spark, paths.chunks)
                    .join(
                        F.broadcast(searchui.select("id")), ["id"],
                        "left_semi",
                    )
                    .select("chunk_id")
                    .join(
                        chunks_batch.select("chunk_id"), ["chunk_id"],
                        "left_anti",
                    )
                    .localCheckpoint(eager=True)
                )
                if vanished_chunks.isEmpty():
                    vanished_chunks = None
            if cfg.ann is not None:
                # the ANN leg below consumes the batch after the chunks
                # MERGE may have rewritten the table's files
                chunks_batch = chunks_batch.localCheckpoint(eager=True)
            if vanished_chunks is not None:
                # delete BEFORE the upsert (round-11 ADVICE): the
                # vanished ids are disjoint from the batch by
                # construction, so the order is free — and a crash
                # between the two steps then leaves the new chunks
                # pending (repaired on the doc's next delivery) instead
                # of the vanished ids PERMANENTLY in the table (the
                # next run recomputes vanished only for its own docs)
                SK.delete_from_index(
                    spark, paths.chunks, vanished_chunks,
                    key="chunk_id", backend=cfg.state_backend,
                )
            SK.upsert_index(
                spark, paths.chunks, chunks_batch, key="chunk_id",
                order_col="indexed_at", backend=cfg.state_backend,
                n_buckets=cfg.state_buckets, unique_keys=True,
            )

    # 6. deletions (J2): apply the candidates the step-2b guard approved
    # — raw, searchui AND the chunks table (a deleted doc's chunks must
    # leave search regardless of whether the ANN leg is configured;
    # round-11 ADVICE hoisted this out of the cfg.ann guard). The chunk
    # ids are collected FIRST from the pre-delete table — they are the
    # delete's key and the ANN index's stale-ledger bookkeeping.
    n_del = 0
    doomed_chunks = None
    dd_batch = None
    if allowed and doomed is not None:
        n_del = doomed.count()
        if n_del:
            if cfg.dedup is not None and n_norm:
                # step 7's dedup delta is lazy over the raw files the
                # raw delete below swaps — materialize it first, or the
                # leg reads files that no longer exist
                dd_batch = _sync_dedup_delta(
                    searchui, cfg.dedup
                ).localCheckpoint(eager=True)
            SK.delete_from_index(
                spark, paths.raw, doomed, backend=cfg.state_backend
            )
            SK.delete_from_index(
                spark, paths.searchui, doomed, backend=cfg.state_backend
            )
            if paths.chunks and LK.table_exists(paths.chunks):
                # the chunks table is keyed by chunk_id: delete by the
                # doomed docs' chunk ids (an id-keyed MOR tombstone
                # matches no chunk row, leaving the chunks readable)
                doomed_chunks = (
                    LK.read_table(spark, paths.chunks)
                    .join(
                        F.broadcast(doomed.select("id")), ["id"],
                        "left_semi",
                    )
                    .select("chunk_id")
                    .localCheckpoint(eager=True)
                )
                SK.delete_from_index(
                    spark, paths.chunks, doomed_chunks,
                    key="chunk_id", backend=cfg.state_backend,
                )

    _mark("searchui_merge_deletes")

    # 6b. ANN serving-index maintenance (opt-in): fresh chunk
    # embeddings append to the persisted IVF index; deleted docs'
    # chunk rows leave the chunks table AND join the index's stale
    # ledger (their standing list entries hold vectors for documents
    # that no longer exist — ann_search excludes them until rebuild).
    ann: dict = {}
    if cfg.ann is not None and paths.chunks:
        gone_chunks = None
        for c in (doomed_chunks, vanished_chunks):
            if c is not None:
                c = c.withColumnRenamed("chunk_id", cfg.ann.id_col)
                gone_chunks = (
                    c if gone_chunks is None else gone_chunks.unionByName(c)
                )
        if chunks_batch is not None or gone_chunks is not None:
            ann = run_ann_maintenance(
                spark, cfg.ann,
                (
                    chunks_batch.select(cfg.ann.id_col, cfg.ann.vec_col)
                    if chunks_batch is not None
                    else None
                ),
                deleted_ids=gone_chunks,
                status_path=cfg.ann.status_path or paths.status,
                # rebuild/bootstrap corpus: the post-merge chunks table
                # (lazy — only read when bootstrapping or the trigger
                # fires with rebuild_on_trigger)
                corpus=(
                    LK.read_table(spark, paths.chunks).select(
                        cfg.ann.id_col, cfg.ann.vec_col
                    )
                    if LK.table_exists(paths.chunks)
                    else None
                ),
            )
        _mark("ann_maintenance")
    if doomed_chunks is not None:
        from eea_crawler_spark.operators import dedup as _DD

        _DD._release_local_checkpoint(doomed_chunks)

    # 7. dedup maintenance (opt-in): the incremental dedup family
    # composed as the post-merge leg — probe this run's changed docs
    # against the persisted text state, fold the pairs into the
    # cluster labels, refresh canonical flags, append the batch to the
    # state. Bootstraps from the whole searchui corpus when no serving
    # state exists yet (the one-time O(corpus) backfill).
    dd: dict[str, int] = {}
    if cfg.dedup is not None and (n_norm or n_del):
        ddcfg = cfg.dedup
        rank_src = None
        if ddcfg.keep_by is not None and LK.table_exists(paths.searchui):
            rank_src = LK.read_table(spark, paths.searchui).select(
                "id", ddcfg.keep_by
            )
        if not _dedup_state_exists(spark, ddcfg):
            corpus = LK.read_table(spark, paths.searchui).select(
                "id", _dedup_data_col(ddcfg)
            )
            dd = bootstrap_dedup_maintenance(
                spark, ddcfg, corpus, id_col="id", rank_source=rank_src
            )
        else:
            dd_col = _dedup_data_col(ddcfg)
            if n_norm:
                delta_dd = (
                    dd_batch if dd_batch is not None
                    else _sync_dedup_delta(searchui, ddcfg)
                )
            else:
                # delete-only run (no normalized batch in scope): an
                # empty delta typed like the persisted corpus — the id
                # type must match or the label/flag MERGEs mis-join
                dd_type = (
                    "array<float>" if ddcfg.method == "embedding"
                    else "string"
                )
                id_type = (
                    LK.read_table(spark, paths.searchui)
                    .schema["id"].dataType.simpleString()
                    if LK.table_exists(paths.searchui)
                    else "string"
                )
                delta_dd = spark.createDataFrame(
                    [], f"id {id_type}, {dd_col} {dd_type}"
                )
            dd = run_dedup_maintenance(
                spark, ddcfg, delta_dd, id_col="id",
                rank_source=rank_src,
                deleted_ids=(
                    doomed.select("id")
                    if allowed and doomed is not None and n_del
                    else None
                ),
                status_path=ddcfg.status_path or paths.status,
                # the rebuild corpus: the post-merge searchui table
                # (lazy — only read if the stale trigger fires AND
                # rebuild_on_trigger is set)
                corpus=(
                    LK.read_table(spark, paths.searchui).select(
                        "id", dd_col
                    )
                    if ddcfg.rebuild_on_trigger
                    and LK.table_exists(paths.searchui)
                    else None
                ),
            )
        if dd_batch is not None:
            from eea_crawler_spark.operators import dedup as _DD

            _DD._release_local_checkpoint(dd_batch)
        _mark("dedup_maintenance")

    SK.status_event(
        spark,
        paths.status,
        f"sync:{cfg.site_id}",
        "finished" if allowed else "aborted_delete_threshold",
        msg=f"delete_ratio={ratio:.2f}%",
        docs_cnt=n_norm,
    )
    _mark("status_finish")
    if (chunks_batch is not None and cfg.ann is not None) or (
        vanished_chunks is not None
    ):
        from eea_crawler_spark.operators import dedup as _DD

        if chunks_batch is not None and cfg.ann is not None:
            _DD._release_local_checkpoint(chunks_batch)
        if vanished_chunks is not None:
            _DD._release_local_checkpoint(vanished_chunks)
    return {
        "fetched": n_fetched,
        "normalized": n_norm,
        "deleted": n_del,
        "delete_allowed": int(allowed),
        **{f"dedup_{k}": v for k, v in dd.items()},
        **{f"ann_{k}": v for k, v in ann.items()},
    }


def fold_app_quarantine(
    spark: SparkSession, paths: SyncPaths, ledger: DataFrame | None = None
) -> None:
    """App-level error-budget fold (the reference's one ``test_errors``
    per ``d1_sync`` sweep): fold the ids currently stored WITH errors
    into the quarantine ledger; cleanly-stored docs drop out."""
    if ledger is None:
        ledger = _read_quarantine(spark, paths.quarantine)
    if LK.table_exists(paths.raw):
        errored = (
            LK.read_table(spark, paths.raw)
            .filter(F.size("errors") > 0)
            .select("id")
        )
    else:  # no raw table yet: nothing errored
        errored = spark.createDataFrame([], "id string")
    new_ledger = INC.quarantine_fold(
        ledger.select("id", "error_cnt", "skip_cnt"), errored
    )
    SK.replace_table(new_ledger, paths.quarantine)


class SyncInProgress(RuntimeError):
    """Raised when another sync for the same app holds the lock
    (get_app_identifier, dags/tasks/helpers.py:157-184)."""


class app_lock:
    """App-level sync mutex (the reference counts queued/running DAG
    runs carrying the app identifier in the scheduler DB; a standalone
    engine uses an atomic lock file — O_EXCL create — next to the state
    tables). Stale locks are reclaimed after ``timeout_s``, the twin of
    Airflow's dagrun_timeout."""

    def __init__(self, lock_dir: str, app: str, timeout_s: float = 6 * 3600):
        import os

        self._path = os.path.join(lock_dir, f".lock_{app}")
        self._timeout = timeout_s
        self._os = os

    def __enter__(self):
        os = self._os
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        try:
            fd = os.open(self._path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
        except FileExistsError:
            import time

            if time.time() - os.path.getmtime(self._path) < self._timeout:
                raise SyncInProgress(
                    f"sync already in progress: {self._path}"
                ) from None
            os.remove(self._path)  # stale: reclaim
            return self.__enter__()
        return self

    def __exit__(self, *exc):
        try:
            self._os.remove(self._path)
        except FileNotFoundError:
            pass
        return False


def run_sync_all(
    spark: SparkSession,
    configs: list[SyncConfig],
    paths_for: Callable[[SyncConfig], SyncPaths],
    transport: AQ.Transport,
    app: str = "global_search",
    lock_dir: str | None = None,
    **kw,
) -> dict[str, dict[str, int]]:
    """The d0→d1 trigger-all entry point (SURVEY §3.1 steps 1-2): one
    sync per site under a single app mutex. The reference serialized
    sites via per-site Airflow pools; site-level parallelism here is
    Spark's own (each site's plan fans out over all cores, sites run
    consecutively so one site's failure cannot starve the others —
    errors are caught per site and reported in the result map)."""
    results: dict[str, dict[str, int]] = {}
    lock_dir = lock_dir or paths_for(configs[0]).status
    with app_lock(lock_dir, app):
        for cfg in configs:
            try:
                results[cfg.site_id] = run_sync(
                    spark, cfg, paths_for(cfg), transport,
                    fold_quarantine=False, **kw
                )
            except Exception as ex:  # noqa: BLE001 — isolate site failures
                results[cfg.site_id] = {"error": 1}
                SK.status_event(
                    spark,
                    paths_for(cfg).status,
                    f"sync:{cfg.site_id}",
                    "failed",
                    msg=f"{type(ex).__name__}: {ex}",
                )
        # one error-budget fold per sweep (d1_sync runs test_errors once
        # per app, not once per site) over each distinct state-table pair
        seen: set[tuple[str, str]] = set()
        for cfg in configs:
            p = paths_for(cfg)
            key = (p.raw, p.quarantine)
            if key not in seen:
                seen.add(key)
                fold_app_quarantine(spark, p)
    return results


def run_renormalize(
    spark: SparkSession,
    paths: SyncPaths,
    site_id: str | None = None,
    portal_types: list[str] | None = None,
    update_only: bool = False,
    normalizer: NormalizerConfig = DEFAULT_CONFIG,
    nlp: bool = True,
) -> dict[str, int]:
    """Re-normalize without crawling: the reference's
    d4_prepare_docs_for_searchui (SURVEY §3.2) — rebuild the derived
    searchui table from the raw table.

    Kept semantics: error docs skipped
    (normalizer.parse_all_documents_for_site error check), optional
    ``sync_portal_types`` filter on the doc type
    (d4_prepare_docs_for_searchui.py:50-58), and ``metadata_only`` →
    update-only (d4:32-33): refreshed rows may only *update* ids already
    in searchui, never insert (a semi-join against the existing index).

    One lazy plan: raw scan → filters → §2.5 chain → site plugins →
    MERGE; Catalyst prunes the raw columns the chain doesn't read.
    """
    raw = LK.read_table(spark, paths.raw).filter(F.size("errors") == 0)
    if site_id is not None:
        raw = raw.filter(F.col("site_id") == site_id)
    if portal_types:
        raw = raw.filter(F.col("doc_type").isin(portal_types))

    normalized = common_normalizer(raw, normalizer)
    if "site_id" in normalized.columns:
        # site known → single dispatch branch, no registry fan-out
        normalized = normalize_by_site(
            normalized, sites=[site_id] if site_id is not None else None
        )
    if nlp and not update_only:
        # metadata_only (d4:32-33) skips the NLP leg in the reference
        # (normalizer.py:110-112 else-branch); full renormalize runs it
        normalized = nlp_preprocess_by_site(normalized)
    searchui = normalized.withColumn("indexed_at", F.current_timestamp())

    if update_only:
        if not LK.table_exists(paths.searchui):
            return {"renormalized": 0}  # no searchui yet: no-op
        existing = LK.read_table(spark, paths.searchui)
        # ES partial-doc semantics (doc_as_upsert with a metadata-only
        # body): fields the update does not carry — e.g. nlp_250, which
        # the metadata_only path never recomputes — keep their stored
        # values instead of being nulled by the row replacement
        inherited = [c for c in existing.columns if c not in searchui.columns]
        if inherited:
            searchui = searchui.join(
                existing.select("id", *inherited), "id", "left"
            )
        searchui = searchui.join(existing.select("id"), "id", "left_semi")

    # count + merge = two chain runs; the checkpoint alternative was
    # measured WORSE on the full corpus (renorm 77→94 s at 5M docs —
    # materializing 5M wide rows costs more than re-deriving them; the
    # round-6 negative result in run_sync)
    n = searchui.count()
    if n:
        # batch_rows: a full renormalize is corpus-sized by definition —
        # on a MOR searchui this takes the direct-fold path (one corpus
        # write) instead of a corpus segment + immediate compaction
        SK.upsert_index(
            spark, paths.searchui, searchui, key="id",
            order_col="indexed_at", batch_rows=n,
            # one row per raw id (the resolved raw table is key-unique)
            unique_keys=True,
        )
    SK.status_event(
        spark, paths.status, f"renormalize:{site_id or 'all'}", "finished", docs_cnt=n
    )
    return {"renormalized": n}


# ---------------------------------------------------------------------------
# Nightly dedup maintenance: the incremental dedup family composed into
# one pipeline leg (round-10; the reference's duplicate handling surface
# crawl_plone_restapi.py:298-318 upgraded to corpus scale). Every step
# is O(delta): probe the persisted text state with this run's changed
# docs, fold the delta pairs into the persisted cluster labels
# (update_connected_components), refresh canonical keep/drop flags for
# the affected clusters only, and append the batch to the serving state
# so tomorrow's probe sees it.


@dataclass
class DedupConfig:
    """Configuration + storage layout for the dedup maintenance leg.

    ``flags_path`` is a SIDECAR table (id, cluster_id, keep,
    updated_at), not extra columns on searchui: nightly flag updates
    then touch O(affected) rows of a 3-column relation instead of
    rewriting wide searchui rows, and readers pick the flags up with
    one id-keyed join (``with_dedup_flags``) that AQE plans like any
    dimension join. The training-data filter is ``WHERE keep``.
    """

    # serving-state dir: build_text_dedup_state for the text methods,
    # build_embedding_state for method="embedding"
    state_path: str
    clusters_path: str              # persisted (node, cluster_id) labels
    flags_path: str                 # persisted canonical keep/drop flags
    method: str = "ngram"   # ngram | minhash | simhash | prefix | embedding
    text_col: str = "fulltext"
    # method="embedding": the delta/corpus column holding array<float>
    # vectors (e.g. a document embedding); cos_threshold the near-dup
    # cosine bar; expected_delta_rows sizes the auto-banded state at
    # bootstrap (None = 1% of the corpus)
    vec_col: str = "embedding"
    cos_threshold: float = 0.9
    expected_delta_rows: int | None = None
    ngram_n: int = 3
    threshold: float = 0.8
    # hot-shingle document-frequency valve: required by the ngram
    # serving probe (the uncapped path would need the corpus text every
    # night) and the right scale posture anyway — shingles above it are
    # boilerplate that only inflate candidate volume
    max_df: int | None = 10_000
    max_hamming: int = 8            # simhash radius
    # ranking column for the keep-the-best-copy policy (a quality
    # score / length / recency column available via rank_source);
    # None = the reference's first-seen rule (min id wins)
    keep_by: str | None = None
    state_backend: str = "auto"     # clusters/flags table format
    append_state: bool = True       # keep the text state self-sustaining
    # rebuild trigger: the leg appends modified/deleted ids to a stale
    # ledger under state_path and reports needs_rebuild once the
    # distinct stale fraction passes this (the log-structured
    # compaction cadence — bootstrap_dedup_maintenance IS the rebuild
    # and clears the ledger)
    rebuild_stale_fraction: float = 0.05
    # where to append the "needs_rebuild" status event (the reference's
    # status stream, status.py:115-163) — run_sync defaults it to its
    # own paths.status so the trigger is observable without reading the
    # return dict
    status_path: str | None = None
    # opt-in: when the stale trigger fires AND a corpus relation was
    # passed to run_dedup_maintenance, rebuild in-line (bootstrap over
    # the corpus, which resets the ledger) instead of only reporting
    rebuild_on_trigger: bool = False
    # update-in-place state repair (round 12 embedding, round 13 every
    # text method): a MODIFIED doc's serving-state rows are evicted and
    # re-appended with its NEW content the same night
    # (repair_embedding_state / repair_text_dedup_state, both
    # partition-local over id-hash dirs), and a DELETED doc's rows
    # leave the state — so future probes always compare against the
    # live corpus. Cluster labels stay monotone between rebuilds unless
    # pairs_path maintains them, so modified ids still ledger: with
    # repair on, the rebuild trigger tracks ONLY label-monotonicity
    # debt, no longer state freshness. Text states built before round
    # 13 (no tb dirs / keys.text_hash) are refused — rebuild them.
    repair_in_place: bool = False
    # EXACT label maintenance (round 12; round 13 lifts the
    # embedding-only restriction): persist the near-dup pair relation
    # in a keyed table here. With repair_in_place also set, the
    # nightly leg then RECOMPUTES the affected components from the
    # maintained pair set instead of folding monotonically — a
    # modified doc LEAVES clusters it no longer belongs to, clusters
    # split exactly, and the rebuild cadence has nothing left to track
    # (the ledger stays empty). Cost: the pairs table (O(near-dup
    # pairs), keyed MERGE per night) and an affected-components CC per
    # night (delta-bounded). None = the documented monotone fold.
    pairs_path: str | None = None


def _dedup_data_col(dcfg: DedupConfig) -> str:
    return dcfg.vec_col if dcfg.method == "embedding" else dcfg.text_col


def _read_dedup_state(spark, dcfg: DedupConfig) -> dict:
    from eea_crawler_spark.operators import dedup as DD
    from eea_crawler_spark.operators import similarity as SIM

    if dcfg.method == "embedding":
        return SIM.read_embedding_state(spark, dcfg.state_path)
    return DD.read_text_dedup_state_full(spark, dcfg.state_path)


def _dedup_state_exists(spark, dcfg: DedupConfig) -> bool:
    from eea_crawler_spark.operators.dedup import _try_read_parquet

    rel = "vectors" if dcfg.method == "embedding" else "arrays"
    return _try_read_parquet(spark, f"{dcfg.state_path}/{rel}") is not None


def _sync_dedup_delta(searchui: DataFrame, dcfg: DedupConfig) -> DataFrame:
    """run_sync's dedup-leg delta: the normalized batch's (id, data
    column) pairs."""
    dd_col = _dedup_data_col(dcfg)
    if dd_col not in searchui.columns:
        # silently substituting an empty delta here would let new docs
        # bypass the probe AND the serving state forever — unprobed
        # duplicates with no signal (round-10 ADVICE). Misconfiguration,
        # not a degradable condition: fail loudly.
        raise ValueError(
            f"SyncConfig.dedup is set (method={dcfg.method!r}) but the "
            f"configured data column {dd_col!r} is missing from the "
            f"normalized batch — fix the dedup config or the normalizer "
            f"output"
        )
    return searchui.select("id", dd_col)


def _dedup_probe(delta, state, dcfg: DedupConfig, id_col: str) -> DataFrame:
    """Method dispatch for the delta-vs-corpus pair probe; output is
    normalized to (doc_a, doc_b) whatever the member emits."""
    from eea_crawler_spark.operators import dedup as DD

    if dcfg.method == "embedding":
        from eea_crawler_spark.operators import similarity as SIM

        # selection rule (BASELINE round 9/10): broadcast-sized deltas
        # take the EXACT probe against the state's vectors relation —
        # exact and faster; bigger deltas take the banded pair-verify
        # probe against the persisted signed relation
        n_probe = delta.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.size(dcfg.vec_col)).alias("d"),
        ).first()
        n, dim = int(n_probe["n"]), int(n_probe["d"] or 0)
        if n * dim * 8 <= SIM.NEARDUP_BROADCAST_MAX_BYTES:
            pairs = SIM.neardup_pairs(
                delta, threshold=dcfg.cos_threshold, id_col=id_col,
                vec_col=dcfg.vec_col,
                against=state["vectors"].select(id_col, dcfg.vec_col),
            )
        else:
            pairs = SIM.neardup_pairs_lsh(
                delta, threshold=dcfg.cos_threshold, id_col=id_col,
                vec_col=dcfg.vec_col, against_state=state,
            )
        return pairs.select(
            F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
        )
    t = dcfg.text_col
    if dcfg.method == "ngram":
        return DD.ngram_jaccard_pairs(
            delta, t, id_col, n=dcfg.ngram_n, threshold=dcfg.threshold,
            max_df=dcfg.max_df, against_state=state,
        ).select("doc_a", "doc_b")
    if dcfg.method == "minhash":
        return DD.minhash_lsh_pairs(
            delta, t, id_col, n=dcfg.ngram_n, threshold=dcfg.threshold,
            against_state=state,
        ).select("doc_a", "doc_b")
    if dcfg.method == "simhash":
        return DD.simhash_pairs(
            delta, t, id_col, max_hamming=dcfg.max_hamming,
            against_bands=state["simhash"],
        ).select("doc_a", "doc_b")
    if dcfg.method == "prefix":
        return DD.prefix_dedup(
            delta, t, n=state["spec"]["key_len"], against_state=state,
            id_col=id_col,
        ).select(
            F.col("dropped_id").alias("doc_a"),
            F.col("keep_id").alias("doc_b"),
        )
    raise ValueError(f"unknown dedup method {dcfg.method!r}")


def _detect_changed_rows(
    spark: SparkSession,
    dcfg: DedupConfig,
    delta: DataFrame,
    deleted_ids: DataFrame | None,
    id_col: str,
) -> DataFrame:
    """Standing ids re-delivered with genuinely DIFFERENT content —
    the repair-mode precision filter (a doc edit re-delivers many
    unchanged rows; repairing them would be wasted rewrites and, in
    ledger terms, wasted debt). The comparison is fingerprint-vs-
    fingerprint: the embedding state's vectors relation hashes its
    stored vector, the round-13 text layout stores ``text_hash`` on
    the keys relation — either way a narrow (id, hash) scan, never
    the wide content column. A changed id that is ALSO deleted this
    run counts as deleted (round-12 ADVICE): the anti-join keeps the
    repair from re-inserting a doomed row."""
    data_col = _dedup_data_col(dcfg)
    if dcfg.method == "embedding":
        standing = spark.read.parquet(
            f"{dcfg.state_path}/vectors"
        ).select(id_col, F.xxhash64(dcfg.vec_col).alias("__sh"))
    else:
        keys_raw = spark.read.parquet(f"{dcfg.state_path}/keys")
        if "text_hash" not in keys_raw.columns:
            raise ValueError(
                "repair_in_place over a text method needs the "
                "round-13 state layout (keys.text_hash + tb id-hash "
                "dirs) — rebuild the state with build_text_dedup_state"
            )
        standing = keys_raw.select(
            F.col("id").alias(id_col),
            F.col("text_hash").alias("__sh"),
        )
    changed = (
        delta.withColumn("__vh", F.xxhash64(data_col))
        .join(standing, [id_col])
        .filter(F.col("__vh") != F.col("__sh"))
        .select(id_col, data_col)
    )
    if deleted_ids is not None:
        changed = changed.join(
            deleted_ids.select(id_col), [id_col], "left_anti"
        )
    return changed.localCheckpoint(eager=True)


def _repair_state_in_place(
    spark: SparkSession,
    dcfg: DedupConfig,
    changed_rows: DataFrame,
    deleted_ids: DataFrame | None,
    id_col: str,
) -> dict:
    """Method dispatch for the update-in-place state repair:
    ``repair_embedding_state`` for vectors, ``repair_text_dedup_state``
    (round 13) for every text method — same contract either way
    (partition-local evict, upsert re-insert, retry-idempotent)."""
    del_df = (
        deleted_ids.select(id_col) if deleted_ids is not None else None
    )
    if dcfg.method == "embedding":
        from eea_crawler_spark.operators import similarity as SIM

        return SIM.repair_embedding_state(
            spark, dcfg.state_path, updates=changed_rows,
            deleted_ids=del_df, id_col=id_col, vec_col=dcfg.vec_col,
        )
    from eea_crawler_spark.operators import dedup as DD

    return DD.repair_text_dedup_state(
        spark, dcfg.state_path, updates=changed_rows,
        deleted_ids=del_df, text_col=dcfg.text_col, id_col=id_col,
    )


def _norm_pairs(pairs: DataFrame) -> DataFrame:
    """Canonical (doc_a < doc_b) pair rows with a stable merge key —
    the persisted pair relation's shape. Duplicate emissions (a pair
    found via both the delta self-join and the state route) collapse
    here."""
    a, b = F.least("doc_a", "doc_b"), F.greatest("doc_a", "doc_b")
    return (
        pairs.select(a.alias("doc_a"), b.alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
        .withColumn(
            # length-prefixed encoding, not a delimiter join (round-12
            # ADVICE): with concat_ws('§'), ids containing '§' collide
            # ('a§b'+'c' vs 'a'+'b§c') and corrupt the keyed
            # eviction/merge. The doc_a length prefix makes the
            # boundary unambiguous for ANY id contents.
            "pair_key",
            F.concat(
                F.length(F.col("doc_a").cast("string")).cast("string"),
                F.lit(":"),
                F.col("doc_a").cast("string"),
                F.col("doc_b").cast("string"),
            ),
        )
    )


def _exact_label_maintenance(
    spark: SparkSession,
    dcfg: DedupConfig,
    delta: DataFrame,
    pairs: DataFrame,
    deleted_ids: DataFrame | None,
    rank_source: DataFrame | None,
    id_col: str,
    changed_rows: DataFrame | None,
) -> tuple[int, int]:
    """The exact-labels nightly step (DedupConfig.pairs_path +
    repair_in_place): maintain the persisted pair relation, then
    RECOMPUTE connected components over the affected subgraph only —
    so cluster membership follows the live corpus exactly (splits
    included), unlike the monotone fold.

      1. pairs table: rows touching a modified/deleted id are deleted
         (their relationships were derived from a vector that no
         longer exists), tonight's probe pairs MERGE in. The probe ran
         against the ALREADY-REPAIRED state, so every surviving row
         reflects current vectors.
      2. affected subgraph: the touched ids' and new pairs' endpoints
         seed it; every standing cluster containing a seed contributes
         all its members (an old pair's endpoints share a cluster, so
         membership closure needs no graph walk — one semi-join).
      3. recompute: ``connected_components`` over the maintained pairs
         restricted to the subgraph — delta-bounded, never the corpus
         graph. Old label rows for the subgraph are deleted, the new
         components MERGE in, winners re-flag per new cluster, and
         nodes that lost their last pair (plus never-paired delta
         docs) become keep=true singletons.

    Returns (relabeled, flagged)."""
    from eea_crawler_spark.operators import dedup as DD

    stamp = F.current_timestamp()
    pairs_norm = _norm_pairs(pairs).localCheckpoint(eager=True)
    touched = None
    if changed_rows is not None and not changed_rows.isEmpty():
        touched = changed_rows.select(F.col(id_col).alias("node"))
    if deleted_ids is not None and not deleted_ids.isEmpty():
        d = deleted_ids.select(F.col(id_col).alias("node"))
        touched = d if touched is None else touched.unionByName(d)
    if touched is not None:
        touched = touched.distinct().localCheckpoint(eager=True)
    # 1. maintain the pair relation (evict BEFORE merging tonight's —
    # the doomed set is computed from the STANDING table)
    if touched is not None and LK.table_exists(dcfg.pairs_path):
        std = LK.read_table(spark, dcfg.pairs_path)
        doomed_pairs = (
            std.join(
                touched.withColumnRenamed("node", "doc_a"),
                ["doc_a"], "left_semi",
            )
            .unionByName(
                std.join(
                    touched.withColumnRenamed("node", "doc_b"),
                    ["doc_b"], "left_semi",
                )
            )
            .select("pair_key")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if not doomed_pairs.isEmpty():
            SK.delete_from_index(
                spark, dcfg.pairs_path, doomed_pairs, key="pair_key",
                backend=dcfg.state_backend,
            )
        DD._release_local_checkpoint(doomed_pairs)
    if not pairs_norm.isEmpty():
        SK.upsert_index(
            spark, dcfg.pairs_path,
            pairs_norm.withColumn("updated_at", stamp),
            key="pair_key", order_col="updated_at",
            backend=dcfg.state_backend, unique_keys=True,
        )
    # 2. the affected subgraph
    seeds = pairs_norm.select(F.col("doc_a").alias("node")).unionByName(
        pairs_norm.select(F.col("doc_b").alias("node"))
    )
    if touched is not None:
        seeds = seeds.unionByName(touched)
    seeds = seeds.distinct().localCheckpoint(eager=True)
    if LK.table_exists(dcfg.clusters_path):
        labels = LK.read_table(spark, dcfg.clusters_path).select(
            "node", "cluster_id"
        )
    else:
        id_type = delta.schema[id_col].dataType.simpleString()
        labels = spark.createDataFrame(
            [], f"node {id_type}, cluster_id {id_type}"
        )
    affected_clusters = (
        labels.join(seeds, ["node"], "left_semi")
        .select("cluster_id")
        .distinct()
    )
    old_members = (
        labels.join(
            F.broadcast(affected_clusters), ["cluster_id"], "left_semi"
        )
        .select("node")
    )
    nodes = old_members.unionByName(seeds).distinct().localCheckpoint(
        eager=True
    )
    # 3. recompute components over the maintained pairs, subgraph only
    sub_pairs = (
        LK.read_table(spark, dcfg.pairs_path).select("doc_a", "doc_b")
        .join(nodes.withColumnRenamed("node", "doc_a"), ["doc_a"],
              "left_semi")
        if LK.table_exists(dcfg.pairs_path)
        else pairs_norm.select("doc_a", "doc_b")
    )
    new_labels = DD.connected_components(sub_pairs).localCheckpoint(
        eager=True
    )
    n_relabel = new_labels.count()
    if LK.table_exists(dcfg.clusters_path) and not nodes.isEmpty():
        SK.delete_from_index(
            spark, dcfg.clusters_path, nodes, key="node",
            backend=dcfg.state_backend,
        )
    if n_relabel:
        SK.upsert_index(
            spark, dcfg.clusters_path,
            new_labels.withColumn("updated_at", stamp),
            key="node", order_col="updated_at",
            backend=dcfg.state_backend, unique_keys=True,
        )
    # flags: deleted ids' rows drop; affected members re-flag; nodes
    # that lost their last pair + never-paired delta docs become
    # keep=true singletons
    d_ids = None
    if deleted_ids is not None and not deleted_ids.isEmpty():
        d_ids = deleted_ids.select(F.col(id_col).alias("id"))
        if LK.table_exists(dcfg.flags_path):
            SK.delete_from_index(
                spark, dcfg.flags_path, d_ids, key="id",
                backend=dcfg.state_backend,
            )
    flags = _winner_flags(new_labels, dcfg, rank_source, id_col)
    singles = (
        nodes.select(F.col("node").alias("id"))
        .unionByName(delta.select(F.col(id_col).alias("id")))
        .distinct()
        .join(
            new_labels.select(F.col("node").alias("id")), ["id"],
            "left_anti",
        )
    )
    if d_ids is not None:
        singles = singles.join(d_ids, ["id"], "left_anti")
    singles = singles.select(
        "id", F.col("id").alias("cluster_id"), F.lit(True).alias("keep")
    )
    all_flags = flags.unionByName(singles).withColumn("updated_at", stamp)
    n_flags = all_flags.count()
    if n_flags:
        SK.upsert_index(
            spark, dcfg.flags_path, all_flags, key="id",
            order_col="updated_at", backend=dcfg.state_backend,
            unique_keys=True,
        )
    for ck in (pairs_norm, touched, seeds, nodes, new_labels):
        if ck is not None:
            DD._release_local_checkpoint(ck)
    return n_relabel, n_flags


def _winner_flags(members: DataFrame, dcfg: DedupConfig,
                  rank_source: DataFrame | None, id_col: str) -> DataFrame:
    """keep/drop verdicts for an AFFECTED-cluster member set (bounded,
    never the corpus): one window over cluster_id. Winner = highest
    ``keep_by`` (min node on ties/nulls) or plain min node. Implemented
    as a ranking rather than ``node == cluster_id`` so a cluster whose
    root was deleted still promotes a keeper."""
    from pyspark.sql.window import Window as W

    order = [F.col("node").asc()]
    if dcfg.keep_by is not None:
        if rank_source is None:
            raise ValueError(
                "keep_by is set but no rank_source relation was given"
            )
        members = members.join(
            rank_source.select(
                F.col(id_col).alias("node"),
                F.col(dcfg.keep_by).alias("__rank"),
            ),
            ["node"], "left",
        )
        order.insert(0, F.col("__rank").desc_nulls_last())
    w = W.partitionBy("cluster_id").orderBy(*order)
    return members.withColumn(
        "keep", F.row_number().over(w) == 1
    ).select(
        F.col("node").alias("id"), "cluster_id", "keep",
    )


def run_dedup_maintenance(
    spark: SparkSession,
    dcfg: DedupConfig,
    delta_docs: DataFrame,
    id_col: str = "id",
    rank_source: DataFrame | None = None,
    deleted_ids: DataFrame | None = None,
    status_path: str | None = None,
    corpus: DataFrame | None = None,
) -> dict[str, int]:
    """The nightly dedup leg, every step O(delta) against persisted
    state (round-9 verdict #1/#2 — the family composed end-to-end):

      1. probe: delta docs vs the persisted text state
         (``against_state`` forms — the corpus pays one pruned pass,
         never a self-join).
      2. cluster fold: ``update_connected_components`` merges the delta
         pairs into the persisted label relation; only moved clusters'
         members rewrite (keyed MERGE on ``node``).
      3. canonical flags: winners recomputed for AFFECTED clusters
         only + singleton flags for untouched delta docs; MERGE into
         the flags sidecar (see DedupConfig).
      4. state append: genuinely-new docs extend the serving state
         (``append_text_dedup_state``); modified docs are counted as
         ``stale`` — their standing state rows are the documented
         rebuild-cadence seam (rebuild when the stale fraction grows,
         like any log-structured index compaction).

    ``deleted_ids``: docs removed this run — their label/flag rows are
    deleted and their clusters' winners recomputed so a cluster never
    ends up with zero kept copies. (Their text-state rows are part of
    the same stale budget as modified docs.)

    Rebuild cadence (round-10 verdict #1): when the stale fraction
    crosses ``dcfg.rebuild_stale_fraction``, the leg (a) emits a
    ``needs_rebuild`` event to ``status_path`` (or
    ``dcfg.status_path``) so an operator who never reads the return
    dict still sees the one signal the monotonicity contract depends
    on, and (b) with ``dcfg.rebuild_on_trigger`` set and a ``corpus``
    relation supplied, runs ``bootstrap_dedup_maintenance`` in-line —
    the O(corpus) rebuild that resets the ledger — reporting
    ``rebuilt=1``. The corpus argument is lazy; it is only evaluated
    when the trigger actually fires.

    MODIFIED docs (ids already in the state): probed with their NEW
    text, so new duplicate relationships are found immediately — but
    cluster membership is MONOTONE between rebuilds by default: a doc
    edited away from its duplicates keeps its standing label until the
    periodic state rebuild re-derives the pair relation (removing a
    node from a component needs the persisted pair set, which the
    default design deliberately does not keep). Same cadence as the
    stale text-state rows; the ``stale`` count in the result is the
    rebuild trigger.

    EXACT mode (round 12; round 13 extends it to the text methods —
    ``repair_in_place`` + ``pairs_path``): the monotonicity seam
    closes entirely. The state repairs BEFORE the probe
    (``repair_embedding_state`` / ``repair_text_dedup_state``), the
    pair relation persists in a keyed table maintained each night
    (rows touching modified/deleted ids evicted, tonight's probe pairs
    merged), and the affected components RECOMPUTE from it
    (``_exact_label_maintenance``) — a modified doc leaves clusters it
    no longer belongs to, clusters split and merge exactly, deletions
    unwind, and every night's labels+flags equal a from-scratch
    bootstrap over the live corpus (pinned). Nothing ledgers; the
    rebuild trigger never arms from new nights.

    Idempotent: re-running with the same delta yields the same pairs,
    the cluster fold is a no-op (intra-cluster edges contract to
    self-loops), and the flag MERGE rewrites identical verdicts.
    """
    import os as _os
    import sys as _sys
    import time as _time

    from eea_crawler_spark.operators import dedup as DD

    _timing = _os.environ.get("SPARK_GRAFT_SYNC_TIMING") == "1"
    _t0 = _time.perf_counter()

    def _mark(step: str) -> None:
        # same step-wall telemetry seam as run_sync (scale bench reads it)
        nonlocal _t0
        if _timing:
            now = _time.perf_counter()
            print(f"[dedup] {step}: +{now - _t0:.2f}s", file=_sys.stderr)
            _t0 = now

    if dcfg.pairs_path is not None and not dcfg.repair_in_place:
        raise ValueError(
            "DedupConfig.pairs_path (exact label maintenance) requires "
            "repair_in_place — without the pre-probe state repair the "
            "persisted pairs would mix old and new content"
        )
    id_type = delta_docs.schema[id_col].dataType.simpleString()
    delta = delta_docs.select(
        id_col, _dedup_data_col(dcfg)
    ).localCheckpoint(eager=True)
    if delta.isEmpty() and deleted_ids is None:
        # zero-change night: nothing to probe, fold, flag, or append
        # (the rebuild trigger is not re-evaluated — staleness only
        # grows on nights with changes, which is when it was last read)
        DD._release_local_checkpoint(delta)
        return {
            "pairs": 0, "relabeled": 0, "flagged": 0,
            "appended": 0, "stale": 0, "stale_total": 0,
            "needs_rebuild": 0, "rebuilt": 0, "repaired": 0,
        }
    state = _read_dedup_state(spark, dcfg)
    exact_mode = dcfg.repair_in_place and dcfg.pairs_path is not None
    state_present = (
        state.get("vectors") is not None
        if dcfg.method == "embedding"
        else "keys" in state
    )
    changed_rows = None
    rep_early: dict | None = None
    if exact_mode and state_present:
        # exact mode repairs the state BEFORE the probe: changed
        # content replaces its state rows and deletions evict, so the
        # probe (and therefore the persisted pair relation) reflects
        # ONLY current content — including pairs between two docs both
        # modified tonight. Method dispatch (round 13: text too) lives
        # in _detect_changed_rows/_repair_state_in_place.
        changed_rows = _detect_changed_rows(
            spark, dcfg, delta, deleted_ids, id_col
        )
        has_del = deleted_ids is not None and not deleted_ids.isEmpty()
        if has_del or not changed_rows.isEmpty():
            rep_early = _repair_state_in_place(
                spark, dcfg, changed_rows, deleted_ids, id_col
            )
            state = _read_dedup_state(spark, dcfg)
        _mark("state_repair")
    # 1. probe (BEFORE any state append — the delta must not see itself;
    # in exact mode the state was REPAIRED first, so re-delivered ids
    # probe against current vectors — the delta-side id wins the a<b
    # self-pair exclusion, and duplicate (delta, state) emissions of
    # the same pair collapse in _norm_pairs)
    pairs = _dedup_probe(delta, state, dcfg, id_col).localCheckpoint(
        eager=True
    )
    n_pairs = pairs.count()
    _mark("probe")
    if exact_mode:
        n_updates, n_flags = _exact_label_maintenance(
            spark, dcfg, delta, pairs, deleted_ids, rank_source,
            id_col, changed_rows,
        )
        labeled_delta = del_clusters = None
        updates = None
        _mark("exact_labels")
    else:
        # 2. O(delta) label fold
        if LK.table_exists(dcfg.clusters_path):
            labels = LK.read_table(spark, dcfg.clusters_path).select(
                "node", "cluster_id"
            )
        else:
            labels = spark.createDataFrame(
                [], f"node {id_type}, cluster_id {id_type}"
            )
        if n_pairs:
            # n_pairs gates the fold's driver fast path (round-14) —
            # the count is already in hand from the probe checkpoint
            updates = DD.update_connected_components(
                labels, pairs, n_pairs=n_pairs
            ).localCheckpoint(eager=True)
        else:
            updates = spark.createDataFrame(
                [], f"node {id_type}, cluster_id {id_type}"
            )
        n_updates = updates.count()
        _mark("cluster_fold")
        # everything still needed from the PRE-merge label relation is
        # materialized now (all delta-bounded): the keyed upsert below may
        # rewrite the table's files under any still-lazy plan over it
        labeled_delta = (
            delta.select(F.col(id_col).alias("id"))
            .join(
                labels.select(F.col("node").alias("id")), ["id"], "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        del_clusters = None
        if deleted_ids is not None:
            doomed = deleted_ids.select(F.col(id_col).alias("node"))
            del_clusters = (
                labels.join(F.broadcast(doomed), ["node"], "left_semi")
                .select("cluster_id")
                .distinct()
                .localCheckpoint(eager=True)
            )
        stamp = F.current_timestamp()
        if n_updates:
            SK.upsert_index(
                spark, dcfg.clusters_path,
                updates.withColumn("updated_at", stamp),
                key="node", order_col="updated_at",
                backend=dcfg.state_backend, unique_keys=True,
            )
        # 2b. deletions: drop label/flag rows; their clusters join the
        # winner recompute below
        if deleted_ids is not None:
            if LK.table_exists(dcfg.clusters_path):
                SK.delete_from_index(
                    spark, dcfg.clusters_path, doomed,
                    key="node", backend=dcfg.state_backend,
                )
            if LK.table_exists(dcfg.flags_path):
                SK.delete_from_index(
                    spark, dcfg.flags_path,
                    doomed.withColumnRenamed("node", "id"),
                    key="id", backend=dcfg.state_backend,
                )
        # 3. canonical flags for affected clusters + delta singletons
        affected = updates.select("cluster_id").distinct()
        if del_clusters is not None:
            affected = affected.unionByName(del_clusters).distinct()
        if LK.table_exists(dcfg.clusters_path):
            merged_labels = LK.read_table(spark, dcfg.clusters_path).select(
                "node", "cluster_id"
            )
        else:
            merged_labels = labels
        members = merged_labels.join(
            F.broadcast(affected), ["cluster_id"], "left_semi"
        )
        flags = _winner_flags(members, dcfg, rank_source, id_col)
        singles = (
            delta.select(F.col(id_col).alias("id"))
            .join(updates.select(F.col("node").alias("id")), ["id"], "left_anti")
            .join(labeled_delta, ["id"], "left_anti")
            .select(
                "id", F.col("id").alias("cluster_id"), F.lit(True).alias("keep")
            )
        )
        all_flags = flags.unionByName(singles).withColumn("updated_at", stamp)
        n_flags = all_flags.count()
        if n_flags:
            SK.upsert_index(
                spark, dcfg.flags_path, all_flags, key="id",
                order_col="updated_at", backend=dcfg.state_backend,
                unique_keys=True,
            )
        _mark("canonical_flags")
    # 4. self-sustaining state: append the genuinely-new docs
    n_appended = n_stale = 0
    standing_ids = None
    if dcfg.method == "embedding":
        if state.get("vectors") is not None:
            standing_ids = state["vectors"].select(id_col)
    elif "keys" in state:
        standing_ids = state["keys"].select(F.col("id").alias(id_col))
    stale_total = 0
    needs_rebuild = False
    n_repaired = int(rep_early["reassigned"]) if rep_early else 0
    if dcfg.append_state and standing_ids is not None:
        fresh_docs = delta_docs.join(standing_ids, [id_col], "left_anti")
        # a delta doc that is ALSO deleted this run never appends: in
        # exact mode the state was repaired (deleted ids evicted) and
        # re-read before this point, so the doomed id would otherwise
        # look "genuinely new" here and re-enter the state (round-12
        # ADVICE, the changed-and-deleted rule)
        if deleted_ids is not None:
            fresh_docs = fresh_docs.join(
                deleted_ids.select(id_col), [id_col], "left_anti"
            )
        n_fresh = fresh_docs.count()
        n_stale = delta.count() - n_fresh
        # the trigger denominator, counted BEFORE any repair rewrites
        # the files the lazy standing_ids plan reads
        n_standing = standing_ids.count()
        if n_fresh and dcfg.method == "embedding":
            n_appended = DD.append_embedding_state(
                spark, dcfg.state_path, fresh_docs,
                id_col=id_col, vec_col=dcfg.vec_col,
            )
        elif n_fresh:
            n_appended = DD.append_text_dedup_state(
                spark, dcfg.state_path, fresh_docs,
                text_col=dcfg.text_col, id_col=id_col,
            )["appended"]
        stale_ledger = f"{dcfg.state_path}/stale_ids"
        if exact_mode:
            # exact mode: the state was repaired BEFORE the probe and
            # the labels recomputed from the maintained pair relation —
            # no staleness of any kind survives the night, so nothing
            # ledgers and the rebuild trigger never arms
            n_stale = n_repaired
            stale_now = spark.createDataFrame([], "id string")
        elif dcfg.repair_in_place:
            # update-in-place: CHANGED standing content is evicted and
            # re-appended (partition-local), deleted ids' rows leave
            # the state — future probes compare against the live
            # corpus. Only the changed ids ledger (label-monotonicity
            # debt, see DedupConfig); unchanged re-deliveries and
            # deletions carry no debt at all. Round 13: the same leg
            # serves the text methods through repair_text_dedup_state.
            changed_rows = _detect_changed_rows(
                spark, dcfg, delta, deleted_ids, id_col
            )
            rep = _repair_state_in_place(
                spark, dcfg, changed_rows, deleted_ids, id_col
            )
            n_repaired = int(rep["reassigned"])
            n_stale = n_repaired
            # stale_now reads through the checkpoint — released with
            # the other delta-bounded frames below
            stale_now = changed_rows.select(F.col(id_col).alias("id"))
        else:
            # stale ledger → rebuild trigger: MODIFIED (and deleted)
            # docs leave stale rows in the serving state until a full
            # rebuild (the documented log-structured cadence). Persist
            # the stale ids (append-mode, distinct-on-read) and surface
            # the running fraction so the operator knows WHEN to
            # rebuild instead of guessing — the leg stays O(delta).
            stale_now = delta.select(F.col(id_col).alias("id")).join(
                standing_ids.select(F.col(id_col).alias("id")), ["id"],
                "left_semi",
            )
            if deleted_ids is not None:
                stale_now = stale_now.unionByName(
                    deleted_ids.select(F.col(id_col).alias("id"))
                )
        if not stale_now.isEmpty():
            # heal a crashed compaction swap BEFORE the append: with
            # the primary missing mid-swap, mode("append") would create
            # a FRESH dir and the orphaned __new ids would be lost at
            # the next compaction's overwrite (round-11 ADVICE)
            DD._heal_rel(spark, dcfg.state_path, "stale_ids")
            stale_now.write.mode("append").parquet(stale_ledger)
            # log-structured hygiene: one small file lands per night
            # and the trigger below pays distinct() over all of them —
            # fold the ledger back to one distinct relation once the
            # file count passes the cap (round-10 verdict #4)
            _compact_stale_ledger(spark, stale_ledger)
        # _read_rel, not a bare read: mid-compaction-swap the ledger
        # sits in its __new dir — missing it here would under-count
        # stale_total and mute the rebuild trigger
        ledger_df = DD._read_rel(spark, dcfg.state_path, "stale_ids")
        if ledger_df is not None:
            stale_total = ledger_df.distinct().count()
            needs_rebuild = (
                stale_total
                >= dcfg.rebuild_stale_fraction * max(1, n_standing)
            )
    _mark("state_append")
    for ck in (delta, pairs, updates, labeled_delta, del_clusters,
               changed_rows):
        if ck is not None:
            DD._release_local_checkpoint(ck)
    rebuilt = 0
    if needs_rebuild:
        ev_path = status_path or dcfg.status_path
        if ev_path is not None:
            SK.status_event(
                spark, ev_path, f"dedup:{dcfg.method}", "needs_rebuild",
                msg=(
                    f"stale={stale_total} standing={n_standing} "
                    f"threshold={dcfg.rebuild_stale_fraction}"
                ),
                docs_cnt=stale_total,
            )
        if dcfg.rebuild_on_trigger:
            if corpus is None:
                raise ValueError(
                    "rebuild_on_trigger is set but no corpus relation "
                    "was passed — the rebuild needs the full corpus"
                )
            bootstrap_dedup_maintenance(
                spark, dcfg, corpus, id_col=id_col,
                rank_source=rank_source,
            )
            rebuilt = 1
            needs_rebuild = False
            stale_total = 0
            _mark("rebuild_on_trigger")
    return {
        "pairs": n_pairs,
        "relabeled": n_updates,
        "flagged": n_flags,
        "appended": n_appended,
        "stale": n_stale,
        "stale_total": stale_total,
        "needs_rebuild": int(needs_rebuild),
        "rebuilt": rebuilt,
        "repaired": n_repaired,
    }


@dataclass
class AnnConfig:
    """Configuration + storage layout for the ANN serving-index leg.

    The index (``build_ivf_index`` layout: centroids, cluster-
    partitioned inverted lists, running aggregates, spec) lives under
    ``index_path``; the stale ledger — ids whose standing list entry no
    longer matches the source (modified or deleted rows) — under
    ``{index_path}/stale_ids``, same log-structured cadence as the
    dedup leg. Serving goes through ``ann_search``, which excludes the
    ledger so staleness degrades to absence, never to serving a stale
    vector's neighbors.
    """

    index_path: str
    id_col: str = "chunk_id"
    vec_col: str = "embedding"
    # "auto" sizes k ≈ √corpus at build/rebuild time (the resolved k is
    # spec-recorded; see similarity._auto_n_clusters for the clamps and
    # the k=4096 sharding crossover)
    n_clusters: int | str = 16
    n_iter: int = 2
    # append-side rebuild triggers (see append_ivf_index): fraction of
    # the index appended since the last build, and the implied-mean
    # centroid drift floor
    rebuild_append_fraction: float | None = None
    rebuild_drift_cos: float | None = None
    # stale-side trigger: distinct ledgered ids / indexed rows
    rebuild_stale_fraction: float = 0.05
    status_path: str | None = None
    rebuild_on_trigger: bool = False
    # update-in-place (round-11 verdict #1): repair modified/deleted
    # ids' inverted lists partition-locally in the nightly leg
    # (repair_ivf_index) instead of ledgering them for serve-time
    # exclusion — the reference's doc_as_upsert semantics
    # (logstash/pipeline/search_pipeline.conf:19-27): a modified doc's
    # NEW vector serves the same night, not after the next rebuild.
    # Off = the round-11 staleness-degrades-to-absence cadence.
    repair_in_place: bool = False
    # Single-writer posture (same as the dedup serving states): the
    # nightly leg assumes ONE maintainer per index_path — appends,
    # repairs, and spec/agg swaps take no cross-writer lock, so two
    # concurrent nightly runs can interleave list appends with spec
    # swaps and corrupt the running aggregates. Serve-side readers are
    # safe at any time (reads recover mid-swap layouts, staleness
    # degrades to absence). Schedule one maintenance run at a time.


def run_ann_maintenance(
    spark: SparkSession,
    acfg: AnnConfig,
    delta_vecs: DataFrame | None,
    deleted_ids: DataFrame | None = None,
    status_path: str | None = None,
    corpus: DataFrame | None = None,
) -> dict:
    """The nightly ANN serving-index leg — the vector twin of
    ``run_dedup_maintenance`` (round-11, closing the round-10 verdict's
    "last stateful family" arc):

      1. bootstrap: no index under ``acfg.index_path`` yet → build it
         from ``corpus`` (or the delta itself) and reset the ledger.
      2. append: genuinely-new ids extend the index in O(delta)
         (``append_ivf_index`` — assignment against the standing
         centroids, partitioned append, aggregate fold).
      3. staleness — two modes:
         * ``repair_in_place`` (reference ``doc_as_upsert`` semantics):
           MODIFIED ids' vectors are REPLACED in their inverted lists
           tonight and ``deleted_ids`` evicted (``repair_ivf_index``,
           partition-local O(stale)); repaired ids also purge from any
           standing ledger, so serving completeness recovers the same
           night instead of at the next rebuild.
         * default (exclude-until-rebuild): modified ids (standing
           list entry holds the OLD vector) and ``deleted_ids`` append
           to ``{index_path}/stale_ids`` (compacted past a file cap).
           ``ann_search`` excludes the ledger at serve time, so stale
           entries are never served wrong — only absent until rebuild.
      4. triggers: ``needs_rebuild`` = the append's own triggers
         (appended fraction, centroid drift) OR the stale fraction;
         surfaced as a status event, and — with
         ``acfg.rebuild_on_trigger`` and a ``corpus`` — acted on by an
         in-line rebuild (``build_ivf_index`` over the corpus, ledger
         reset, ``rebuilt=1``).
    """
    from eea_crawler_spark.operators import dedup as DD
    from eea_crawler_spark.operators import similarity as SIM

    ledger = f"{acfg.index_path}/stale_ids"
    lists = DD._try_read_parquet(spark, f"{acfg.index_path}/lists")
    if lists is None:
        src = corpus if corpus is not None else delta_vecs
        if src is None or src.isEmpty():
            return {"built": 0}
        meta = SIM.build_ivf_index(
            src.select(acfg.id_col, acfg.vec_col), acfg.index_path,
            n_clusters=acfg.n_clusters, n_iter=acfg.n_iter,
            id_col=acfg.id_col, vec_col=acfg.vec_col,
        )
        _clear_ledger(spark, ledger)
        return {
            "built": meta["n"], "appended": 0, "stale": 0,
            "stale_total": 0, "needs_rebuild": 0, "rebuilt": 0,
        }
    standing = lists.select(acfg.id_col)
    if delta_vecs is not None:
        delta = delta_vecs.select(acfg.id_col, acfg.vec_col).localCheckpoint(
            eager=True
        )
    else:
        id_type = standing.schema[acfg.id_col].dataType.simpleString()
        delta = spark.createDataFrame(
            [], f"{acfg.id_col} {id_type}, {acfg.vec_col} array<float>"
        )
    fresh = delta.join(standing, [acfg.id_col], "left_anti")
    n_fresh = fresh.count()
    app_kw = {}
    if acfg.rebuild_append_fraction is not None:
        app_kw["rebuild_append_fraction"] = acfg.rebuild_append_fraction
    if acfg.rebuild_drift_cos is not None:
        app_kw["rebuild_drift_cos"] = acfg.rebuild_drift_cos
    if n_fresh:
        app = SIM.append_ivf_index(
            spark, acfg.index_path, fresh,
            id_col=acfg.id_col, vec_col=acfg.vec_col, **app_kw,
        )
    else:
        app = {"appended": 0, "needs_rebuild": 0}
    # stale ledger: standing ids re-delivered with a DIFFERENT vector
    # + deleted. The vector-equality filter matters for precision: a
    # doc edit re-embeds ALL its chunks but typically changes few —
    # ledgering identical re-deliveries would both inflate the rebuild
    # cadence and needlessly EXCLUDE those ids from serving. The check
    # compares the lists' stored ``vec_hash`` fingerprint (a narrow
    # (id, hash) scan — the corpus's wide vector column never reads)
    # against the delivered vectors' hashes; pre-hash lists fall back
    # to array equality.
    if "vec_hash" in lists.columns:
        changed = (
            delta.withColumn("__vh", F.xxhash64(acfg.vec_col))
            .join(
                lists.select(
                    acfg.id_col, F.col("vec_hash").alias("__standing")
                ),
                [acfg.id_col],
            )
            .filter(F.col("__vh") != F.col("__standing"))
            .select(acfg.id_col)
        )
    else:
        changed = (
            delta.join(
                lists.select(
                    acfg.id_col, F.col(acfg.vec_col).alias("__standing")
                ),
                [acfg.id_col],
            )
            .filter(F.col(acfg.vec_col) != F.col("__standing"))
            .select(acfg.id_col)
        )
    rep: dict | None = None
    n_stale = 0
    if acfg.repair_in_place:
        # update-in-place: modified vectors are REPLACED in their
        # inverted lists tonight (partition-local, O(stale)), deleted
        # ids evicted — nothing ledgered, serving stays complete. A
        # changed id that is also deleted this run counts as deleted.
        # changed is materialized: its plan reads the very list files
        # the repair evicts, and the ledger purge re-uses it after.
        changed = changed.localCheckpoint(eager=True)
        updates = delta.join(changed, [acfg.id_col], "left_semi")
        if deleted_ids is not None:
            updates = updates.join(
                deleted_ids.select(acfg.id_col), [acfg.id_col],
                "left_anti",
            )
        has_deletes = deleted_ids is not None and not deleted_ids.isEmpty()
        if has_deletes or not updates.isEmpty():
            touched = changed
            if deleted_ids is not None:
                touched = touched.unionByName(
                    deleted_ids.select(acfg.id_col)
                )
            # ledger the touched ids BEFORE the repair runs (round-12
            # ADVICE): repair_ivf_index's crash discipline requires the
            # ids excluded at serve time until the repair RETURNS — a
            # crash mid-repair otherwise leaves some ids standing with
            # OLD vectors and no ledger entry, and ann_search serves
            # stale neighbors. The post-repair purge below removes them
            # again on success, so steady state is unchanged.
            DD._heal_rel(spark, acfg.index_path, "stale_ids")
            touched.select(F.col(acfg.id_col).alias("id")).write.mode(
                "append"
            ).parquet(ledger)
            rep = SIM.repair_ivf_index(
                spark, acfg.index_path, updates=updates,
                deleted_ids=(
                    deleted_ids.select(acfg.id_col)
                    if deleted_ids is not None else None
                ),
                id_col=acfg.id_col, vec_col=acfg.vec_col,
                # repair-vs-rebuild arbiter (round-12 verdict #3): let
                # the repair abort on the scatter-plus-armed-drift
                # shape ONLY when this leg can rebuild in-line right
                # after — the touched ids were just ledgered above, so
                # an abort serves them as absent, never stale, until
                # the rebuild below re-indexes them
                abort_on_prefer_rebuild=(
                    acfg.rebuild_on_trigger and corpus is not None
                ),
                **app_kw,
            )
            # the repaired ids are physically correct now: purge them
            # from any standing ledger (the pre-repair entries just
            # written, earlier exclude-mode nights, or a crashed
            # repair's conservative entries) so serving completeness
            # recovers; a ledger purged to EMPTY is deleted outright —
            # "no ledger dir" stays the nothing-is-stale invariant.
            # An ABORTED repair skips the purge: its ids are still
            # stale on disk and must stay excluded until the rebuild.
            DD._heal_rel(spark, acfg.index_path, "stale_ids")
            led = DD._try_read_parquet(spark, ledger)
            if rep.get("aborted"):
                led = None
            if led is not None:
                led_purged = (
                    led.join(
                        touched.select(F.col(acfg.id_col).alias("id")),
                        ["id"], "left_anti",
                    )
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                if led_purged.isEmpty():
                    DD._fs_delete(spark, ledger)
                    spark.catalog.refreshByPath(ledger)
                else:
                    led_purged.write.mode("overwrite").parquet(
                        f"{ledger}__new"
                    )
                    DD._replace_dir(spark, f"{ledger}__new", ledger)
                DD._release_local_checkpoint(led_purged)
        DD._release_local_checkpoint(changed)
    else:
        stale_now = changed
        if deleted_ids is not None:
            stale_now = stale_now.unionByName(
                deleted_ids.select(acfg.id_col)
            )
        n_stale = stale_now.count()
        if n_stale:
            # heal a crashed compaction swap before the append (see the
            # dedup leg: a fresh primary would orphan the __new ids)
            DD._heal_rel(spark, acfg.index_path, "stale_ids")
            stale_now.select(F.col(acfg.id_col).alias("id")).write.mode(
                "append"
            ).parquet(ledger)
            _compact_stale_ledger(spark, ledger)
    stale_total = 0
    needs_rebuild = bool(app["needs_rebuild"]) or bool(
        rep and rep["needs_rebuild"]
    )
    ledger_df = DD._read_rel(spark, acfg.index_path, "stale_ids")
    if ledger_df is not None:
        stale_total = ledger_df.distinct().count()
        n_indexed = int(
            DD._read_rel(
                spark, acfg.index_path, "spec", SIM.IVF_SPEC_SCHEMA
            ).first()["n"]
        )
        needs_rebuild = needs_rebuild or (
            stale_total
            >= acfg.rebuild_stale_fraction * max(1, n_indexed)
        )
    DD._release_local_checkpoint(delta)
    rebuilt = 0
    if needs_rebuild:
        ev_path = status_path or acfg.status_path
        if ev_path is not None:
            SK.status_event(
                spark, ev_path, "ann:ivf", "needs_rebuild",
                msg=(
                    f"appended_frac={app.get('appended_fraction')} "
                    f"drift_cos={app.get('min_centroid_cos')} "
                    f"stale={stale_total}"
                ),
                docs_cnt=stale_total,
            )
        if acfg.rebuild_on_trigger:
            if corpus is None:
                raise ValueError(
                    "rebuild_on_trigger is set but no corpus relation "
                    "was passed — the rebuild needs the full corpus"
                )
            SIM.build_ivf_index(
                corpus.select(acfg.id_col, acfg.vec_col), acfg.index_path,
                n_clusters=acfg.n_clusters, n_iter=acfg.n_iter,
                id_col=acfg.id_col, vec_col=acfg.vec_col,
            )
            _clear_ledger(spark, ledger)
            rebuilt = 1
            needs_rebuild = False
            stale_total = 0
    out = {
        "appended": int(app["appended"]),
        "stale": n_stale,
        "stale_total": stale_total,
        "needs_rebuild": int(needs_rebuild),
        "rebuilt": rebuilt,
    }
    if rep is not None:
        out["repaired"] = int(rep["reassigned"])
        out["removed"] = int(rep["removed"])
        if rep.get("prefer_rebuild"):
            out["prefer_rebuild"] = 1
    if "appended_fraction" in app:
        out["appended_fraction"] = round(app["appended_fraction"], 6)
        out["min_centroid_cos"] = round(app["min_centroid_cos"], 6)
    return out


def ann_search(
    spark: SparkSession,
    acfg: AnnConfig,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Serve ANN top-k from the maintained index, excluding the stale
    ledger (a modified/deleted source row's old vector is never served
    — it is simply absent until the rebuild re-indexes it)."""
    from eea_crawler_spark.operators import dedup as DD
    from eea_crawler_spark.operators import similarity as SIM

    # _read_rel: mid-compaction-swap the ledger sits in its __new dir —
    # a bare read would miss it and serve the very stale vectors the
    # ledger exists to exclude (round-11 ADVICE: the one crash window
    # that violated the never-a-wrong-answer contract)
    stale = DD._read_rel(spark, acfg.index_path, "stale_ids")
    if stale is not None:
        stale = stale.select(F.col("id").alias(acfg.id_col))
    return SIM.ivf_topk_state(
        spark, acfg.index_path, queries, k=k, n_probe=n_probe,
        id_col=acfg.id_col, vec_col=acfg.vec_col, exclude_ids=stale,
    )


def _compact_stale_ledger(
    spark, ledger: str, max_files: int = 16
) -> bool:
    """Fold the append-mode stale ledger back to one distinct relation
    once it holds more than ``max_files`` data files (each nightly
    append lands one small file; the rebuild trigger pays a
    ``distinct()`` scan over all of them). Tmp-and-swap through
    ``_replace_dir`` so a crash never loses the ledger; behavior of the
    trigger is unchanged — the distinct id set is preserved exactly
    (pinned). True when a compaction ran."""
    from eea_crawler_spark.operators import dedup as DD

    # a crashed PRIOR compaction left the ledger in its __new dir:
    # rename it back so this one compacts the real contents instead of
    # skipping on a missing primary
    DD._heal_rel(spark, ledger.rsplit("/", 1)[0], ledger.rsplit("/", 1)[1])
    fs, p = DD._hadoop_fs(spark, ledger)
    if not fs.exists(p):
        return False
    stats = [
        st
        for st in fs.listStatus(p)
        if st.getPath().getName().endswith(".parquet")
    ]
    if len(stats) <= max_files:
        return False
    # target file count from the actual byte size (~128 MB files) so
    # the rewrite lands WELL under the cap — a fixed shuffle.partitions
    # fan-out would exceed it and re-trigger compaction every night
    total_bytes = sum(st.getLen() for st in stats)
    n_out = max(1, -(-total_bytes // (128 << 20)))
    (
        spark.read.parquet(ledger)
        .distinct()
        .coalesce(int(n_out))
        .write.mode("overwrite")
        .parquet(f"{ledger}__new")
    )
    DD._replace_dir(spark, f"{ledger}__new", ledger)
    return True


def _clear_ledger(spark, ledger: str) -> None:
    """Reset a stale ledger INCLUDING its swap siblings: a rebuild that
    deleted only the primary would leave a crashed compaction's
    ``__new`` (or ``__old``) dir behind, and ``_read_rel`` would
    resurrect those ghost ids — re-latching ``needs_rebuild`` and
    excluding freshly re-indexed entries from serving forever."""
    from eea_crawler_spark.operators import dedup as DD

    for suffix in ("", "__new", "__old"):
        DD._fs_delete(spark, f"{ledger}{suffix}")


def bootstrap_dedup_maintenance(
    spark: SparkSession,
    dcfg: DedupConfig,
    docs: DataFrame,
    id_col: str = "id",
    rank_source: DataFrame | None = None,
) -> dict[str, int]:
    """One-time backfill for an EXISTING corpus: build the method's
    serving state (text or embedding), run the full self-join, resolve
    clusters, and flag every doc (paired docs via the winner window,
    the rest keep=true singletons). After this,
    ``run_dedup_maintenance`` keeps everything current in O(delta) per
    night."""
    from eea_crawler_spark.operators import dedup as DD

    # a (re)build resets staleness: drop the ledger the nightly leg
    # appends modified/deleted ids to — through the Hadoop FileSystem
    # API (round-10 ADVICE: an os.path/shutil clear is local-FS-only;
    # on HDFS/S3 the ledger would never clear and needs_rebuild would
    # stay latched forever after the first rebuild)
    _clear_ledger(spark, f"{dcfg.state_path}/stale_ids")
    if dcfg.method == "embedding":
        from eea_crawler_spark.operators import similarity as SIM

        SIM.build_embedding_state(
            docs, dcfg.state_path, id_col=id_col, vec_col=dcfg.vec_col,
            expected_delta_rows=dcfg.expected_delta_rows,
            threshold=dcfg.cos_threshold,
        )
        pairs = SIM.neardup_pairs(
            docs, threshold=dcfg.cos_threshold, id_col=id_col,
            vec_col=dcfg.vec_col,
        ).select(
            F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
        )
    else:
        DD.build_text_dedup_state(
            docs, dcfg.state_path, text_col=dcfg.text_col, id_col=id_col,
            n=dcfg.ngram_n, threshold=dcfg.threshold, max_df=dcfg.max_df,
        )
    t = dcfg.text_col
    if dcfg.method != "embedding":
        # the build just PERSISTED the corpus's per-doc shingle arrays
        # under <state>/arrays — hand that relation to the bootstrap
        # self-join instead of re-shingling the same corpus (round-13
        # verdict #3, guide §1.2: one corpus-wide text pass dropped at
        # the scale that matters). Parquet-backed, so it serves the
        # multi-consumer plans exactly like a checkpoint would; probing
        # it is output-identical to recomputing (the build/probe
        # equality pins). The uncapped ngram path (max_df None) keeps
        # re-shingling — it is the STRING-shingle reference plan and
        # cannot consume hashed arrays.
        boot_arrays = spark.read.parquet(
            f"{dcfg.state_path}/arrays"
        ).select("id", "g")
    if dcfg.method == "embedding":
        pass  # pairs built above
    elif dcfg.method == "ngram":
        pairs = DD.ngram_jaccard_pairs(
            docs, t, id_col, n=dcfg.ngram_n, threshold=dcfg.threshold,
            max_df=dcfg.max_df,
            arrays=boot_arrays if dcfg.max_df is not None else None,
        ).select("doc_a", "doc_b")
    elif dcfg.method == "minhash":
        pairs = DD.minhash_lsh_pairs(
            docs, t, id_col, n=dcfg.ngram_n, threshold=dcfg.threshold,
            arrays=boot_arrays,
        ).select("doc_a", "doc_b")
    elif dcfg.method == "simhash":
        pairs = DD.simhash_pairs(
            docs, t, id_col, max_hamming=dcfg.max_hamming
        ).select("doc_a", "doc_b")
    elif dcfg.method == "prefix":
        pairs = DD.prefix_dedup(docs, t, id_col=id_col).select(
            F.col("dropped_id").alias("doc_a"),
            F.col("keep_id").alias("doc_b"),
        )
    else:
        raise ValueError(f"unknown dedup method {dcfg.method!r}")
    labels = DD.connected_components(pairs).localCheckpoint(eager=True)
    n_labeled = labels.count()
    stamp = F.current_timestamp()
    if dcfg.pairs_path is not None:
        # exact-label mode: the pair relation persists so nightly
        # repairs can recompute affected components. REPLACE semantics:
        # a rebuild derives the complete live pair set, and stale rows
        # from a previous life of the table must not survive it.
        DD._fs_delete(spark, dcfg.pairs_path)
        SK.upsert_index(
            spark, dcfg.pairs_path,
            _norm_pairs(pairs).withColumn("updated_at", stamp),
            key="pair_key", order_col="updated_at",
            backend=dcfg.state_backend, unique_keys=True,
        )
    SK.upsert_index(
        spark, dcfg.clusters_path,
        labels.withColumn("updated_at", stamp),
        key="node", order_col="updated_at",
        backend=dcfg.state_backend, unique_keys=True,
    )
    flags = _winner_flags(labels, dcfg, rank_source, id_col)
    singles = (
        docs.select(F.col(id_col).alias("id"))
        .join(labels.select(F.col("node").alias("id")), ["id"], "left_anti")
        .select(
            "id", F.col("id").alias("cluster_id"), F.lit(True).alias("keep")
        )
    )
    all_flags = flags.unionByName(singles).withColumn("updated_at", stamp)
    n_flags = all_flags.count()
    SK.upsert_index(
        spark, dcfg.flags_path, all_flags, key="id",
        order_col="updated_at", backend=dcfg.state_backend,
        unique_keys=True,
    )
    DD._release_local_checkpoint(labels)
    return {"labeled": n_labeled, "flagged": n_flags}


def with_dedup_flags(
    spark: SparkSession, docs: DataFrame, dcfg: DedupConfig,
    id_col: str = "id",
) -> DataFrame:
    """Read-side join of the canonical flags sidecar: every doc gains
    ``cluster_id`` and ``keep`` (unflagged docs — synced before the
    dedup leg existed — default to their own singleton). The
    training-data filter is ``.filter("keep")``.

    Plan posture (pinned in tests/test_plan_audit.py): the sidecar is
    3 narrow columns × corpus rows, so at serving scales up to a few
    hundred million docs it sits under
    ``spark.sql.autoBroadcastJoinThreshold``-tunable broadcast range
    and the join plans as a BroadcastHashJoin — the hot path every
    training-data read pays stays shuffle-free on the docs side. The
    crossover: past ~10⁸–10⁹ flag rows (≈ threshold / ~30 B per row)
    Spark's size estimate exceeds the broadcast threshold and AQE
    falls back to a shuffled join — at that point persist BOTH sides
    bucketed by id (``sinks.indexes.save_bucketed``) so the join
    stays co-located; we deliberately do NOT force ``broadcast()``
    here, which would OOM the driver exactly at the scale where the
    fallback is correct."""
    flags = LK.read_table(spark, dcfg.flags_path).select(
        F.col("id").alias(id_col), "cluster_id", "keep"
    )
    return (
        docs.join(flags, [id_col], "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .withColumn("keep", F.coalesce("keep", F.lit(True)))
    )
