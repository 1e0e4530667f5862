"""E2E: the incremental dedup family composed as a sync pipeline leg
(round-9 verdict #1) — sync → bootstrap → nightly delta probe →
cluster fold → canonical flags, idempotent re-runs, winner promotion
on delete, and the with_dedup_flags read join."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from eea_crawler_spark.pipeline import (
    DedupConfig,
    SyncConfig,
    SyncPaths,
    run_sync,
    with_dedup_flags,
)
from eea_crawler_spark.sinks import lakehouse as LK

SITE = "https://dup.example"

_BASE_A = " ".join(f"alpha{i}" for i in range(80))
_BASE_B = " ".join(f"beta{i}" for i in range(80))


def _title(base: str, variant: int) -> str:
    words = base.split()
    words[3 * variant] = f"mut{variant}"
    return " ".join(words)


class DupSite:
    """Stub site whose doc titles carry near-duplicate 80-word texts:
    d0/d1/d2 one cluster, d3/d4 another, d5..d7 unique."""

    def __init__(self):
        self.docs = {}
        for i in range(3):
            self._add(i, _title(_BASE_A, i))
        for i in range(3, 5):
            self._add(i, _title(_BASE_B, i - 3))
        for i in range(5, 8):
            self._add(i, " ".join(f"uniq{i}w{j}" for j in range(60)))

    def _add(self, i: int, title: str, modified: str = "2024-01-01"):
        self.docs[f"{SITE}/d{i}"] = {"modified": modified, "title": title}

    def __call__(self, url: str) -> tuple[int, str]:
        if "@search" in url:
            if "b_start=0" not in url:
                return 200, json.dumps({"items": [], "batching": {}})
            items = [
                {"@id": doc_id, "@type": "Document", "modified": d["modified"]}
                for doc_id, d in sorted(self.docs.items())
            ]
            return 200, json.dumps({"items": items, "batching": {}})
        d = self.docs.get(url)
        if d is None:
            return 404, "gone"
        return 200, json.dumps(
            {"@id": url, "title": d["title"], "language": "en",
             "review_state": "published"}
        )


@pytest.fixture()
def env(tmp_path):
    paths = SyncPaths(
        raw=str(tmp_path / "raw"),
        searchui=str(tmp_path / "searchui"),
        quarantine=str(tmp_path / "quarantine"),
        status=str(tmp_path / "status"),
    )
    dcfg = DedupConfig(
        state_path=str(tmp_path / "dedup_state"),
        clusters_path=str(tmp_path / "clusters"),
        flags_path=str(tmp_path / "flags"),
        text_col="title",
        threshold=0.8,
    )
    cfg = SyncConfig(site_url=SITE, site_id="eea", dedup=dcfg)
    return paths, dcfg, cfg


def _flags(spark, dcfg):
    return {
        r["id"]: (r["cluster_id"], r["keep"])
        for r in LK.read_table(spark, dcfg.flags_path)
        .select("id", "cluster_id", "keep")
        .collect()
    }


@pytest.mark.slow
def test_sync_dedup_leg_e2e(spark, env):
    paths, dcfg, cfg = env
    site = DupSite()
    d = lambda i: f"{SITE}/d{i}"  # noqa: E731

    # run 1: cold start — sync then BOOTSTRAP (no serving state yet)
    r1 = run_sync(spark, cfg, paths, site)
    assert r1["fetched"] == 8
    assert r1["dedup_labeled"] == 5  # d0..d4 are in pairs
    assert r1["dedup_flagged"] == 8  # every doc flagged
    f1 = _flags(spark, dcfg)
    assert f1[d(0)] == (d(0), True)
    assert f1[d(1)] == (d(0), False) and f1[d(2)] == (d(0), False)
    assert f1[d(3)] == (d(3), True) and f1[d(4)] == (d(3), False)
    for i in (5, 6, 7):
        assert f1[d(i)] == (d(i), True)

    # run 2: zero changes — the dedup leg does not even run
    r2 = run_sync(spark, cfg, paths, site)
    assert r2["fetched"] == 0 and "dedup_pairs" not in r2
    assert _flags(spark, dcfg) == f1

    # run 3: a NEW near-dup of cluster A arrives — O(delta) leg:
    # probe finds its pairs, the cluster fold adds it, flags refresh
    site._add(8, _title(_BASE_A, 2), modified="2024-02-02")
    site.docs[d(8)]["modified"] = "2024-02-02"
    r3 = run_sync(spark, cfg, paths, site)
    assert r3["fetched"] == 1
    assert r3["dedup_pairs"] >= 1          # d8 paired with d0/d1/d2
    assert r3["dedup_relabeled"] == 1      # only d8's label row is new
    assert r3["dedup_appended"] == 1       # state stays self-sustaining
    assert r3["dedup_stale"] == 0
    f3 = _flags(spark, dcfg)
    assert f3[d(8)] == (d(0), False)       # joined cluster A, dropped
    assert f3[d(0)] == (d(0), True)        # winner unchanged
    assert {k: v for k, v in f3.items() if k != d(8)} == f1

    # run 4: idempotency — re-syncing the unchanged corpus is a no-op
    r4 = run_sync(spark, cfg, paths, site)
    assert r4["fetched"] == 0
    assert _flags(spark, dcfg) == f3

    # run 5: the cluster-A winner is DELETED — flags recompute for the
    # affected cluster only and promote the next member
    del site.docs[d(0)]
    r5 = run_sync(spark, cfg, paths, site)
    assert r5["deleted"] == 1
    f5 = _flags(spark, dcfg)
    assert d(0) not in f5
    assert f5[d(1)][1] is True             # promoted keeper
    assert f5[d(2)][1] is False and f5[d(8)][1] is False
    # untouched clusters keep their verdicts
    assert f5[d(3)] == (d(3), True) and f5[d(4)] == (d(3), False)
    # label rows for the deleted doc are gone too
    labels = {
        r["node"]
        for r in LK.read_table(spark, dcfg.clusters_path).collect()
    }
    assert d(0) not in labels and d(8) in labels

    # the read join: training-data filter drops exactly the dropped dups
    docs = LK.read_table(spark, paths.searchui)
    flagged = with_dedup_flags(spark, docs, dcfg)
    kept = {r["id"] for r in flagged.filter("keep").collect()}
    assert kept == {d(1), d(3), d(5), d(6), d(7)}

    # run 6: a MIXED night — a new near-dup of cluster B arrives while
    # a unique doc is deleted; the dedup leg's delta must survive the
    # raw-table delete that runs before it
    site._add(9, _title(_BASE_B, 2), modified="2024-03-03")
    del site.docs[d(6)]
    r6 = run_sync(spark, cfg, paths, site)
    assert r6["fetched"] == 1 and r6["deleted"] == 1
    assert r6["dedup_pairs"] >= 1          # d9 paired with d3/d4
    f6 = _flags(spark, dcfg)
    assert f6[d(9)] == (d(3), False)       # joined cluster B, dropped
    assert d(6) not in f6
    assert {k: v for k, v in f6.items() if k != d(9)} == {
        k: v for k, v in f5.items() if k != d(6)
    }


def test_dedup_leg_keep_by_quality(spark, env):
    """keep_by routes the winner choice through a searchui ranking
    column — the keep-the-best-copy policy."""
    paths, dcfg, cfg = env
    dcfg.keep_by = "readingTime"  # chain-computed numeric column
    site = DupSite()
    # make d2 the longest text in cluster A => highest readingTime
    # (only +8 words so the pairwise Jaccard stays over the threshold)
    site.docs[f"{SITE}/d2"]["title"] = (
        _title(_BASE_A, 2) + " " + " ".join(f"extra{j}" for j in range(8))
    )
    run_sync(spark, cfg, paths, site)
    f = _flags(spark, dcfg)
    a_members = [k for k, v in f.items() if v[0] == f"{SITE}/d0"]
    keepers = [k for k in a_members if f[k][1]]
    assert keepers == [f"{SITE}/d2"]


@pytest.mark.slow
def test_dedup_leg_embedding_method(spark, tmp_path):
    """method='embedding': the composed leg over vectors — bootstrap
    (auto-banded state + exact self-join + CC + flags), nightly probe
    via the selection rule (broadcast-sized delta -> exact probe),
    cluster fold, state append; idempotent re-run counts the standing
    delta as stale and changes nothing."""
    import numpy as np

    from eea_crawler_spark.pipeline import (
        bootstrap_dedup_maintenance,
        run_dedup_maintenance,
    )

    rng = np.random.RandomState(9)
    rows, base = [], None
    for i in range(200):
        if i % 6 == 0 or base is None:
            base = rng.standard_normal(16)
            v = base
        else:
            v = base + 0.02 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    new = df.filter(F.col("vec_id") % 5 == 0)
    corpus = df.filter(F.col("vec_id") % 5 != 0)
    dcfg = DedupConfig(
        state_path=str(tmp_path / "emb_state"),
        clusters_path=str(tmp_path / "emb_clusters"),
        flags_path=str(tmp_path / "emb_flags"),
        method="embedding",
        cos_threshold=0.9,
        expected_delta_rows=40,
    )
    boot = bootstrap_dedup_maintenance(spark, dcfg, corpus, id_col="vec_id")
    assert boot["labeled"] > 0 and boot["flagged"] == corpus.count()
    r1 = run_dedup_maintenance(spark, dcfg, new, id_col="vec_id")
    assert r1["pairs"] > 0
    assert r1["appended"] == new.count() and r1["stale"] == 0
    # boundary-straddling clusters: a delta member joined a standing
    # cluster and lost to its min-id root
    flags = {
        r["id"]: (r["cluster_id"], r["keep"])
        for r in LK.read_table(spark, dcfg.flags_path).collect()
    }
    # vec 5 (delta) is a mutation of base cluster {0..5}: joins root 1
    # (corpus min of that cluster is 1 since 0 is delta)
    joined = [
        i for i in (5, 10, 15) if i in flags and flags[i][0] != i
    ]
    assert joined, "no delta member joined a standing cluster"
    assert all(flags[i][1] is False for i in joined)
    # idempotent second night: same delta is now standing state —
    # nothing relabels, nothing appends, everything counts stale
    r2 = run_dedup_maintenance(spark, dcfg, new, id_col="vec_id")
    assert r2["relabeled"] == 0 and r2["appended"] == 0
    assert r2["stale"] == new.count()
    flags2 = {
        r["id"]: (r["cluster_id"], r["keep"])
        for r in LK.read_table(spark, dcfg.flags_path).collect()
    }
    assert flags2 == flags


@pytest.mark.slow
def test_stale_ledger_rebuild_trigger(spark, tmp_path):
    """Modified docs accumulate in the stale ledger; needs_rebuild
    flips once the distinct stale fraction passes the config threshold;
    bootstrap (the rebuild) clears the ledger."""
    from eea_crawler_spark.pipeline import (
        bootstrap_dedup_maintenance,
        run_dedup_maintenance,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"doc{i}w{j}" for j in range(40)))
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    dcfg = DedupConfig(
        state_path=str(tmp_path / "state"),
        clusters_path=str(tmp_path / "clusters"),
        flags_path=str(tmp_path / "flags"),
        text_col="text",
        rebuild_stale_fraction=0.2,  # 4 of 20 docs
    )
    bootstrap_dedup_maintenance(spark, dcfg, docs, id_col="doc_id")
    # night 1: 2 modified docs (ids already standing) -> stale, no flip
    mod = docs.filter(F.col("doc_id") < 2).withColumn(
        "text", F.concat(F.col("text"), F.lit(" edited"))
    )
    r1 = run_dedup_maintenance(spark, dcfg, mod, id_col="doc_id")
    assert r1["stale"] == 2 and r1["stale_total"] == 2
    assert r1["needs_rebuild"] == 0
    # night 2: 2 MORE modified (incl. one repeat — ledger is distinct)
    mod2 = docs.filter(
        (F.col("doc_id") >= 1) & (F.col("doc_id") < 4)
    ).withColumn("text", F.concat(F.col("text"), F.lit(" v2")))
    r2 = run_dedup_maintenance(spark, dcfg, mod2, id_col="doc_id")
    assert r2["stale"] == 3 and r2["stale_total"] == 4  # {0,1,2,3}
    assert r2["needs_rebuild"] == 1  # 4/20 >= 0.2
    # the rebuild clears the ledger and resets the trigger
    bootstrap_dedup_maintenance(spark, dcfg, docs, id_col="doc_id")
    r3 = run_dedup_maintenance(
        spark, dcfg, docs.filter(F.lit(False)), id_col="doc_id",
        deleted_ids=docs.filter(F.col("doc_id") == 19).select(
            F.col("doc_id")
        ),
    )
    # deletions count into the ledger too
    assert r3["stale_total"] == 1 and r3["needs_rebuild"] == 0


@pytest.mark.slow
def test_rebuild_trigger_status_event_and_auto_rebuild(spark, tmp_path):
    """Round-10 verdict #1: the trigger is OBSERVABLE (a needs_rebuild
    event lands on the status stream) and, with rebuild_on_trigger +
    a corpus relation, ACTED ON (in-line bootstrap resets the ledger
    and reports rebuilt=1)."""
    from eea_crawler_spark.pipeline import (
        bootstrap_dedup_maintenance,
        run_dedup_maintenance,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"doc{i}w{j}" for j in range(40)))
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    status = str(tmp_path / "status")
    dcfg = DedupConfig(
        state_path=str(tmp_path / "state"),
        clusters_path=str(tmp_path / "clusters"),
        flags_path=str(tmp_path / "flags"),
        text_col="text",
        rebuild_stale_fraction=0.1,  # 2 of 20 docs
        status_path=status,
        rebuild_on_trigger=True,
    )
    bootstrap_dedup_maintenance(spark, dcfg, docs, id_col="doc_id")
    mod = docs.filter(F.col("doc_id") < 3).withColumn(
        "text", F.concat(F.col("text"), F.lit(" edited"))
    )
    # the post-edit corpus the rebuild would index
    corpus = docs.filter(F.col("doc_id") >= 3).unionByName(mod)
    r = run_dedup_maintenance(
        spark, dcfg, mod, id_col="doc_id", corpus=corpus
    )
    # trigger fired (3/20 >= 0.1), the event landed, the rebuild ran
    assert r["rebuilt"] == 1
    assert r["needs_rebuild"] == 0 and r["stale_total"] == 0
    events = {
        (e["task_name"], e["status"])
        for e in spark.read.parquet(status).collect()
    }
    assert ("dedup:ngram", "needs_rebuild") in events
    # the ledger is gone, so the next nightly starts from zero stale
    mod2 = docs.filter(F.col("doc_id") == 5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    )
    r2 = run_dedup_maintenance(spark, dcfg, mod2, id_col="doc_id",
                               corpus=corpus)
    assert r2["stale_total"] == 1 and r2["needs_rebuild"] == 0
    assert r2["rebuilt"] == 0
    # without a corpus the opt-in is a loud error, not a silent skip
    dcfg2 = DedupConfig(
        state_path=dcfg.state_path,
        clusters_path=dcfg.clusters_path,
        flags_path=dcfg.flags_path,
        text_col="text",
        rebuild_stale_fraction=0.01,
        rebuild_on_trigger=True,
    )
    mod3 = docs.filter(F.col("doc_id") == 6).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v3"))
    )
    with pytest.raises(ValueError, match="corpus"):
        run_dedup_maintenance(spark, dcfg2, mod3, id_col="doc_id")


@pytest.mark.slow
def test_stale_ledger_compaction_preserves_trigger(spark, tmp_path):
    """Round-10 verdict #4: past max_files nightly appends the ledger
    folds to one distinct relation — same distinct id set, same
    trigger arithmetic, fewer files."""
    import os

    from eea_crawler_spark.pipeline import _compact_stale_ledger

    ledger = str(tmp_path / "state" / "stale_ids")
    ids = spark.createDataFrame(
        [(i,) for i in range(10)], "id long"
    )
    # 6 nightly appends with overlapping ids
    for k in range(6):
        ids.filter((F.col("id") >= k) & (F.col("id") < k + 4)).coalesce(
            1
        ).write.mode("append").parquet(ledger)
    want = {
        r["id"] for r in spark.read.parquet(ledger).distinct().collect()
    }
    files = lambda: [  # noqa: E731
        f for f in os.listdir(ledger) if f.endswith(".parquet")
    ]
    assert len(files()) == 6
    # under the cap: no-op
    assert _compact_stale_ledger(spark, ledger, max_files=16) is False
    assert len(files()) == 6
    # over the cap: folds, set preserved
    assert _compact_stale_ledger(spark, ledger, max_files=4) is True
    assert len(files()) < 6
    got = {
        r["id"] for r in spark.read.parquet(ledger).distinct().collect()
    }
    assert got == want
    # missing ledger: clean no-op
    assert _compact_stale_ledger(
        spark, str(tmp_path / "nope"), max_files=1
    ) is False


@pytest.mark.slow
def test_sync_dedup_leg_missing_column_raises(spark, env):
    """Round-10 ADVICE: when cfg.dedup is set but the configured data
    column is absent from a non-empty normalized batch, the leg must
    raise — a silent empty-delta substitution would let new docs skip
    the probe AND the serving state forever."""
    paths, dcfg, cfg = env
    site = DupSite()
    run_sync(spark, cfg, paths, site)  # bootstrap with text_col=title
    # a new doc arrives, but the config now names a column the
    # normalizer does not produce
    site._add(9, _title(_BASE_A, 1), modified="2024-03-03")
    bad = DedupConfig(
        state_path=dcfg.state_path,
        clusters_path=dcfg.clusters_path,
        flags_path=dcfg.flags_path,
        text_col="no_such_column",
        threshold=0.8,
    )
    cfg_bad = SyncConfig(site_url=SITE, site_id="eea", dedup=bad)
    with pytest.raises(ValueError, match="no_such_column"):
        run_sync(spark, cfg_bad, paths, site)
