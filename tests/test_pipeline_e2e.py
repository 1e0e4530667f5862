"""End-to-end sync pipeline over a stubbed site (SURVEY §5.2.5, no ES).

Exercises the full composition: listing → filters → diff → fetch →
raw merge → normalize → searchui merge → guarded deletes → quarantine.
Asserts the incremental contract from BASELINE.md: a re-run with zero
changes touches zero rows, changes flow through, deletions propagate,
and failing docs land in the quarantine ledger.
"""

from __future__ import annotations

import json

import pytest

from eea_crawler_spark.pipeline import SyncConfig, SyncPaths, run_sync

SITE = "https://stub.example"


class StubSite:
    """A fake Plone site: listing pages + per-doc JSON; mutable corpus."""

    def __init__(self):
        self.docs = {
            f"{SITE}/d{i}": {"modified": "2024-01-01", "title": f"Doc {i}"}
            for i in range(5)
        }
        self.broken: set[str] = set()

    def __call__(self, url: str) -> tuple[int, str]:
        if "@search" in url:
            if "b_start=0" not in url:
                return 200, json.dumps({"items": [], "batching": {}})
            items = [
                {"@id": doc_id, "@type": "Document", "modified": d["modified"]}
                for doc_id, d in sorted(self.docs.items())
            ]
            return 200, json.dumps({"items": items, "batching": {}})
        if url in self.broken:
            return 500, "boom"
        d = self.docs.get(url)
        if d is None:
            return 404, "gone"
        return 200, json.dumps(
            {"@id": url, "title": d["title"], "language": "en",
             "review_state": "published"}
        )


@pytest.fixture()
def paths(tmp_path):
    return SyncPaths(
        raw=str(tmp_path / "raw"),
        searchui=str(tmp_path / "searchui"),
        quarantine=str(tmp_path / "quarantine"),
        status=str(tmp_path / "status"),
    )


@pytest.mark.slow
def test_full_sync_then_incremental(spark, paths):
    site = StubSite()
    cfg = SyncConfig(site_url=SITE, site_id="eea")

    # run 1: cold start — everything is fetched and normalized
    r1 = run_sync(spark, cfg, paths, site)
    assert r1["fetched"] == 5 and r1["normalized"] == 5 and r1["deleted"] == 0
    searchui = {r["id"]: r.asDict() for r in spark.read.parquet(paths.searchui).collect()}
    assert len(searchui) == 5
    d0 = searchui[f"{SITE}/d0"]
    assert d0["title"] == "Doc 0" and d0["label"] == "Doc 0"  # chain ran
    assert d0["cluster_name"] == "eea"  # site plugin ran
    # d5 NLP leg ran: nlp_250 chunk structs on the synced doc
    assert [c["text"] for c in d0["nlp_250"]] == ["Doc 0."]

    # run 2: nothing changed — zero fetches, state untouched
    r2 = run_sync(spark, cfg, paths, site)
    assert r2["fetched"] == 0 and r2["deleted"] == 0
    again = {r["id"] for r in spark.read.parquet(paths.searchui).collect()}
    assert again == set(searchui)
    run1_stamps = {
        r["id"]: r["indexed_at"]
        for r in spark.read.parquet(paths.searchui)
        .select("id", "indexed_at")
        .collect()
    }

    # run 3: one doc modified, one removed (20% < 25% threshold → allowed)
    site.docs[f"{SITE}/d1"]["modified"] = "2024-02-02"
    site.docs[f"{SITE}/d1"]["title"] = "Doc 1 v2"
    del site.docs[f"{SITE}/d4"]
    r3 = run_sync(spark, cfg, paths, site)
    assert r3["fetched"] == 1 and r3["deleted"] == 1 and r3["delete_allowed"] == 1
    # INCREMENTAL normalize: only the changed doc flowed through the
    # chain (the reference normalizes what traveled d3→d5 this run,
    # d3_crawl_fetch_for_id.py:81-100) — a 1-changed-doc sync is
    # O(changed), not O(corpus)
    assert r3["normalized"] == 1
    final = {r["id"]: r.asDict() for r in spark.read.parquet(paths.searchui).collect()}
    assert set(final) == {f"{SITE}/d{i}" for i in range(4)}
    assert final[f"{SITE}/d1"]["title"] == "Doc 1 v2"  # update propagated
    assert final[f"{SITE}/d0"]["title"] == "Doc 0"  # untouched rows intact
    # rows-TOUCHED pin (the O(changed) contract, measured at scale by
    # scripts/bench_sync_scale.py): exactly the changed doc carries a
    # fresh indexed_at; every surviving row keeps its run-1 stamp
    touched = {
        r["id"]
        for r in spark.read.parquet(paths.searchui)
        .select("id", "indexed_at")
        .collect()
        if r["indexed_at"] != run1_stamps[r["id"]]
    }
    assert touched == {f"{SITE}/d1"}


def test_sync_with_production_config(spark, paths):
    """The full ported production config (config/*.json via
    NormalizerConfig.from_tables, reference_mode) drives a real sync:
    renames (title→label, @type→objectProvides), norm_missing creation,
    and the early-snapshot projection all hold end-to-end."""
    from eea_crawler_spark.config import production_config

    site = StubSite()
    cfg = SyncConfig(site_url=SITE, site_id="eea", normalizer=production_config())
    r = run_sync(spark, cfg, paths, site)
    assert r["normalized"] == 5
    d0 = {
        x["id"]: x.asDict() for x in spark.read.parquet(paths.searchui).collect()
    }[f"{SITE}/d0"]
    assert d0["title"] == "Doc 0" and d0["label"] == "Doc 0"
    assert d0["language"] == "en"
    assert d0["creator"] == "European Environment Agency (EEA)"  # normMissing add
    assert d0["fulltext"] == "Doc 0."  # chain-added column survives projection
    assert d0["cluster_name"] == "eea"  # site plugin still composes on top


def test_scrape_leg_extracts_fulltext(spark, paths):
    """S6 wired end-to-end: scrape-configured site → web_html fetched
    from the rendered page, trafilatura-style extraction (selector
    narrowing + chrome removal) feeds fulltext/readingTime; the raw
    table keeps the ORIGINAL html so renormalize can re-extract. A doc
    whose scrape exhausts retries is error-quarantined like a failed
    fetch."""
    site = StubSite()

    def scraper(url: str) -> tuple[int, str]:
        slug = url.rsplit("/", 1)[-1]
        if slug == "d3":
            return 500, "scrape down"
        return 200, (
            "<html><head><title>Page</title></head><body>"
            "<nav class='chrome'>menu menu</nav>"
            f"<main><p>Scraped body for {slug}.</p></main>"
            "</body></html>"
        )

    cfg = SyncConfig(
        site_url=SITE,
        site_id="eea",
        scrape_pages=True,
        html_extract={
            "main_by_css_selector": "main",
            "remove_by_selector": [".chrome"],
        },
    )
    r = run_sync(spark, cfg, paths, site, scrape_transport=scraper)
    assert r["fetched"] == 5
    assert r["normalized"] == 4  # d3's failed scrape error-filters it
    searchui = {
        x["id"]: x.asDict() for x in spark.read.parquet(paths.searchui).collect()
    }
    d0 = searchui[f"{SITE}/d0"]
    assert d0["fulltext"] == "Scraped body for d0."  # not "menu menu"
    assert d0["readingTime"] is not None
    # raw table stores the original html, not the extraction
    raw = {x["id"]: x.asDict() for x in spark.read.parquet(paths.raw).collect()}
    assert "<main>" in raw[f"{SITE}/d0"]["web_html"]
    assert raw[f"{SITE}/d3"]["errors"]  # scrape errors recorded
    ledger = {
        x["id"] for x in spark.read.parquet(paths.quarantine).collect()
    }
    assert f"{SITE}/d3" in ledger


def test_embed_leg_writes_chunk_table(spark, paths, tmp_path):
    """Chunk-embedding sink: embed=True merges (chunk_id, chunk_text,
    embedding) rows keyed for idempotent re-sync."""
    site = StubSite()
    paths.chunks = str(tmp_path / "chunks")
    cfg = SyncConfig(site_url=SITE, site_id="eea", embed=True)
    run_sync(spark, cfg, paths, site)
    chunks = spark.read.parquet(paths.chunks).collect()
    assert len(chunks) == 5  # one short chunk per doc
    by_id = {c["chunk_id"]: c.asDict() for c in chunks}
    c0 = by_id[f"{SITE}/d0#0"]
    assert c0["chunk_text"] == "Doc 0."
    assert len(c0["embedding"]) > 0
    # idempotent: re-sync with no changes adds nothing
    run_sync(spark, cfg, paths, site)
    assert spark.read.parquet(paths.chunks).count() == 5


def test_deleted_doc_chunks_leave_mor_chunk_table(spark, paths, tmp_path):
    """On the merge-on-read layout a deleted doc's chunks must leave the
    chunk_id-keyed chunks table — before and after compaction folds the
    segments (an id-keyed tombstone matched no chunk row)."""
    from eea_crawler_spark.sinks import lakehouse as LK

    site = StubSite()
    paths.chunks = str(tmp_path / "chunks")
    cfg = SyncConfig(
        site_url=SITE, site_id="eea", embed=True, state_backend="mor"
    )
    run_sync(spark, cfg, paths, site)
    del site.docs[f"{SITE}/d4"]
    assert run_sync(spark, cfg, paths, site)["deleted"] == 1

    def chunk_docs():
        return {
            r["id"] for r in LK.read_table(spark, paths.chunks).collect()
        }

    want = {f"{SITE}/d{i}" for i in range(4)}
    assert chunk_docs() == want
    LK.compact_table(spark, paths.chunks)
    assert chunk_docs() == want


def test_sync_with_ported_eea_site_config(spark, paths):
    """The ported production site registry (config/sites.json) drives a
    sync end-to-end: config_eea's scrape + trafilatura selectors, the
    nlp whitelist (dynamic-key fulltext), and the default_normalizers
    chain all come straight from the reference's own variables."""
    from eea_crawler_spark.config import site_sync_config

    site = StubSite()
    cfg = site_sync_config("eea", site_url=SITE, portal_types=["Document"])

    def api_site(url: str) -> tuple[int, str]:
        # config-driven fetches MUST target the API request form of the
        # listed URL (get_api_url + the expand params,
        # get_doc_from_plone) — a bare listed URL means no rewrite ran
        if "@search" in url:
            return site(url)
        if "/api/SITE/" not in url or "expand=object_provides" not in url:
            return 404, "not the api request form"
        return site(url.replace("/api/SITE/", "/", 1).split("?")[0])

    def scraper(url: str) -> tuple[int, str]:
        slug = url.rsplit("/", 1)[-1]
        if "/api/SITE/" in url:  # scrape must hit the rendered page
            return 500, "scraped the api form"
        return 200, (
            "<html><body><div class='header-wrapper'>chrome chrome</div>"
            f"<p>Rendered {slug} page body.</p></body></html>"
        )

    r = run_sync(spark, cfg, paths, api_site, scrape_transport=scraper)
    assert r["normalized"] == 5
    d0 = {
        x["id"]: x.asDict() for x in spark.read.parquet(paths.searchui).collect()
    }[f"{SITE}/d0"]
    # config_eea's trafilatura remove_by_selector stripped the chrome
    assert d0["fulltext"] == "Rendered d0 page body."
    assert "chrome" not in d0["fulltext"]
    # nlp_preprocessing present in config → nlp_250 chunks attached
    assert [c["text"] for c in d0["nlp_250"]] == ["Rendered d0 page body."]
    # production normalizer ran (reference_mode projection + renames)
    assert d0["label"] == "Doc 0"


def test_delete_threshold_aborts_mass_delete(spark, paths):
    site = StubSite()
    cfg = SyncConfig(site_url=SITE, site_id="eea")
    run_sync(spark, cfg, paths, site)

    # listing collapses to one doc → 80% deletes > 25% threshold → abort
    site.docs = {k: v for k, v in site.docs.items() if k.endswith("d0")}
    r = run_sync(spark, cfg, paths, site)
    assert r["delete_allowed"] == 0 and r["deleted"] == 0
    still = {r_["id"] for r_ in spark.read.parquet(paths.searchui).collect()}
    assert len(still) == 5  # nothing was deleted


def test_failures_enter_quarantine(spark, paths):
    site = StubSite()
    cfg = SyncConfig(site_url=SITE, site_id="eea")
    site.broken.add(f"{SITE}/d3")
    r = run_sync(spark, cfg, paths, site)
    assert r["fetched"] == 5  # row survives with errors
    ledger = {
        r_["id"]: r_.asDict()
        for r_ in spark.read.parquet(paths.quarantine).collect()
    }
    assert ledger[f"{SITE}/d3"]["error_cnt"] == 1
    # broken doc is error-filtered out of searchui
    ok = {r_["id"] for r_ in spark.read.parquet(paths.searchui).collect()}
    assert f"{SITE}/d3" not in ok and len(ok) == 4


@pytest.mark.slow
def test_quarantined_doc_is_not_deleted(spark, paths):
    """A quarantined doc the source still LISTS must never become a
    deletion candidate (the reference removes skip_docs from the
    deletion map, crawl_plone_restapi.py:99-103) — and a recovered doc
    drops out of the ledger."""
    site = StubSite()
    cfg = SyncConfig(site_url=SITE, site_id="eea")
    site.broken.add(f"{SITE}/d3")
    # allowed_errors=2: runs 1-2 build the budget, run 3 marks skipped
    for _ in range(3):
        run_sync(spark, cfg, paths, site)
    ledger = {
        r_["id"]: r_.asDict()
        for r_ in spark.read.parquet(paths.quarantine).collect()
    }
    assert ledger[f"{SITE}/d3"]["skipped"]

    # run 4: d3 is quarantine-filtered from fetching but still listed —
    # it must survive the deletion step
    r4 = run_sync(spark, cfg, paths, site)
    assert r4["deleted"] == 0
    raw_ids = {r_["id"] for r_ in spark.read.parquet(paths.raw).collect()}
    assert f"{SITE}/d3" in raw_ids

    # run 5: d3 recovers; refetch succeeds once it leaves quarantine.
    # (Entry expires only after skip_runs; shrink the window by clearing
    # the ledger the way an operator would force a retry.)
    site.broken.clear()
    import shutil

    shutil.rmtree(paths.quarantine)
    r5 = run_sync(spark, cfg, paths, site)
    assert r5["fetched"] >= 1
    ledger5 = {
        r_["id"] for r_ in spark.read.parquet(paths.quarantine).collect()
    }
    assert f"{SITE}/d3" not in ledger5  # clean refetch → budget cleared


@pytest.mark.parametrize("buckets", [None, 4])
@pytest.mark.slow
def test_full_sync_incremental_on_mor_backend(spark, paths, buckets):
    """The same sync lifecycle on the merge-on-read state layout
    (state_backend='mor'): every merge appends a segment instead of
    rewriting the state tables, and the resolved view must agree with
    what the copy-on-write path produces — fetch counts, update
    propagation, deletes, untouched-row stamps. Parametrized over the
    bucketed state layout (state_buckets), whose diff/guard joins take
    the exchange-free split path."""
    from eea_crawler_spark.sinks import lakehouse as LK

    site = StubSite()
    cfg = SyncConfig(
        site_url=SITE, site_id="eea", state_backend="mor",
        state_buckets=buckets,
    )

    r1 = run_sync(spark, cfg, paths, site)
    assert r1["fetched"] == 5 and r1["normalized"] == 5
    assert LK.is_mor_table(paths.raw) and LK.is_mor_table(paths.searchui)
    searchui = {
        r["id"]: r.asDict()
        for r in LK.read_table(spark, paths.searchui).collect()
    }
    assert len(searchui) == 5
    assert searchui[f"{SITE}/d0"]["cluster_name"] == "eea"

    # zero-change re-run touches nothing
    r2 = run_sync(spark, cfg, paths, site)
    assert r2["fetched"] == 0 and r2["deleted"] == 0
    stamps = {
        r["id"]: r["indexed_at"]
        for r in LK.read_table(spark, paths.searchui).collect()
    }

    # one update + one delete, resolved through the segment log
    site.docs[f"{SITE}/d1"]["modified"] = "2024-02-02"
    site.docs[f"{SITE}/d1"]["title"] = "Doc 1 v2"
    del site.docs[f"{SITE}/d4"]
    r3 = run_sync(spark, cfg, paths, site)
    assert r3["fetched"] == 1 and r3["deleted"] == 1 and r3["normalized"] == 1
    final = {
        r["id"]: r.asDict()
        for r in LK.read_table(spark, paths.searchui).collect()
    }
    assert set(final) == {f"{SITE}/d{i}" for i in range(4)}
    assert final[f"{SITE}/d1"]["title"] == "Doc 1 v2"
    assert final[f"{SITE}/d0"]["title"] == "Doc 0"
    assert final[f"{SITE}/d0"]["indexed_at"] == stamps[f"{SITE}/d0"]
    assert final[f"{SITE}/d1"]["indexed_at"] != stamps[f"{SITE}/d1"]


class CountingSite(StubSite):
    """StubSite that leaves one marker file per DOC fetch (listing
    pages excluded) — counters don't survive the executor pickle
    boundary, the local filesystem does."""

    def __init__(self, marker_dir):
        super().__init__()
        self.marker_dir = str(marker_dir)

    def __call__(self, url):
        if "@search" not in url:
            import os
            import uuid as _uuid

            with open(
                os.path.join(self.marker_dir, _uuid.uuid4().hex), "w"
            ) as f:
                f.write(url)
        return super().__call__(url)


def test_sync_fetches_each_doc_exactly_once(spark, paths, tmp_path):
    """Politeness/cost contract: one HTTP request per due doc per sync.

    The fetch_docs checkpoint is the load-bearing piece — downstream
    actions (counts, envelope assembly, merges) must never re-execute
    the network stage. This pin holds the contract against any future
    refactor that drops the checkpoint or adds an action upstream of
    it."""
    import os

    markers = tmp_path / "markers"
    markers.mkdir()
    site = CountingSite(markers)
    r = run_sync(spark, SyncConfig(site_url=SITE, site_id="eea"), paths, site)
    assert r["fetched"] == 5
    assert len(os.listdir(markers)) == 5  # not 10


def test_corrupt_state_read_surfaces_not_masked(spark, tmp_path):
    """A genuine state-read failure (corrupt _mor/spec.json) must
    propagate, NOT be swallowed as 'first run: empty state' — a masked
    failure would classify the whole corpus as new and re-crawl over
    the damaged table (round-7 ADVICE)."""
    import datetime as dt

    from eea_crawler_spark import pipeline as P
    from eea_crawler_spark.sinks import lakehouse as LK

    path = str(tmp_path / "raw")
    LK.merge_upsert(
        spark,
        path,
        spark.createDataFrame(
            [("a", "m1", [], dt.datetime(2024, 1, 1))],
            "id string, modified string, errors array<string>, "
            "indexed_at timestamp",
        ),
        backend="mor",
    )
    with open(LK._mor_spec_path(path), "w") as f:
        f.write("{ not json")
    with pytest.raises(Exception):
        P._read_state_parts(spark, path)
    with pytest.raises(Exception):
        P._read_state(spark, path)
    # a genuinely missing table is still the first-run empty state
    missing = str(tmp_path / "never_written")
    base, overrides, keys = P._read_state_parts(spark, missing)
    assert base.count() == 0 and overrides is None
