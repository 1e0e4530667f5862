"""Backend-parametrized merge semantics (sinks.lakehouse).

The same last-wins upsert / keyed delete contract must hold on both
backends: the parquet swap emulation (always runnable here) and Delta
``MERGE INTO`` (runs only where delta-spark is importable and the
session carries the Delta extension — skipped otherwise, so a lakehouse
runtime exercises the real DML path with zero test changes).
"""

from __future__ import annotations

import datetime as dt

import pytest

from eea_crawler_spark.sinks import lakehouse as LK

# (backend, parquet merge strategy): the broadcast small-batch plan must
# be semantics-identical to the window plan — same five contracts run
# over both; delta and mor ignore strategy (MERGE INTO / segment append).
MODES = [
    ("parquet", "window"),
    ("parquet", "broadcast"),
    ("mor", "window"),
    ("delta", "window"),
]


def _needs(spark, backend):
    if backend == "delta" and not LK.delta_available(spark):
        pytest.skip("delta-spark not available in this session")


def _rows(spark, path):
    return {
        r["id"]: (r["v"], r["indexed_at"])
        for r in LK.read_table(spark, path).collect()
    }


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, v, dt.datetime(2024, 1, d)) for i, v, d in rows],
        "id string, v string, indexed_at timestamp",
    )


@pytest.mark.parametrize("backend,strategy", MODES)
def test_merge_upsert_last_wins(spark, tmp_path, backend, strategy):
    _needs(spark, backend)
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), backend=backend, strategy=strategy)
    # update a (newer), insert c; stale update for b is ignored
    LK.merge_upsert(
        spark,
        path,
        _df(spark, [("a", "v2", 2), ("c", "v1", 2)]),
        backend=backend,
        strategy=strategy,
    )
    LK.merge_upsert(spark, path, _df(spark, [("b", "stale", 1)]), backend=backend, strategy=strategy)
    got = _rows(spark, path)
    assert got["a"][0] == "v2" and got["c"][0] == "v1"
    # equal-timestamp update wins (idempotent re-apply), so "stale" at
    # the SAME stamp replaces — but an older stamp must not:
    LK.merge_upsert(spark, path, _df(spark, [("a", "old", 1)]), backend=backend, strategy=strategy)
    assert _rows(spark, path)["a"][0] == "v2"


@pytest.mark.parametrize("backend,strategy", MODES)
def test_merge_upsert_within_batch_dedup(spark, tmp_path, backend, strategy):
    _needs(spark, backend)
    path = str(tmp_path / "t")
    LK.merge_upsert(
        spark,
        path,
        _df(spark, [("a", "first", 1), ("a", "last", 3), ("a", "mid", 2)]),
        backend=backend,
        strategy=strategy,
    )
    assert _rows(spark, path)["a"][0] == "last"


@pytest.mark.parametrize("backend,strategy", MODES)
def test_merge_delete(spark, tmp_path, backend, strategy):
    _needs(spark, backend)
    path = str(tmp_path / "t")
    LK.merge_upsert(
        spark,
        path,
        _df(spark, [("a", "v", 1), ("b", "v", 1), ("c", "v", 1)]),
        backend=backend,
        strategy=strategy,
    )
    doomed = spark.createDataFrame([("b",), ("zz",)], "id string")
    LK.merge_delete(spark, path, doomed, backend=backend)
    assert set(_rows(spark, path)) == {"a", "c"}


@pytest.mark.parametrize("backend,strategy", MODES)
def test_merge_schema_evolution(spark, tmp_path, backend, strategy):
    """Batches adding or omitting columns merge on BOTH backends: the
    parquet twin unions with allowMissingColumns, the Delta leg must
    carry withSchemaEvolution/autoMerge (round-3 divergence: it threw
    on a real Delta runtime while parquet succeeded)."""
    _needs(spark, backend)
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1)]), backend=backend, strategy=strategy)
    # batch ADDS a column the table lacks
    wider = spark.createDataFrame(
        [("b", "v1", dt.datetime(2024, 1, 2), "extra")],
        "id string, v string, indexed_at timestamp, nlp string",
    )
    LK.merge_upsert(spark, path, wider, backend=backend, strategy=strategy)
    # batch OMITS a column the table has (update-only renormalize shape)
    narrower = spark.createDataFrame(
        [("a", "v2", dt.datetime(2024, 1, 3))],
        "id string, v string, indexed_at timestamp",
    )
    LK.merge_upsert(spark, path, narrower, backend=backend, strategy=strategy)
    got = {r["id"]: r.asDict() for r in LK.read_table(spark, path).collect()}
    assert got["a"]["v"] == "v2" and got["a"]["nlp"] is None
    assert got["b"]["nlp"] == "extra"


@pytest.mark.parametrize("backend,strategy", MODES)
def test_merge_idempotent_replay(spark, tmp_path, backend, strategy):
    """At-least-once safety: re-applying the same batch is a no-op."""
    _needs(spark, backend)
    path = str(tmp_path / "t")
    batch = _df(spark, [("a", "v1", 1), ("b", "v1", 1)])
    LK.merge_upsert(spark, path, batch, backend=backend, strategy=strategy)
    before = _rows(spark, path)
    LK.merge_upsert(spark, path, batch, backend=backend, strategy=strategy)
    assert _rows(spark, path) == before


def _base_files(path):
    import os

    return {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    }


def test_mor_merge_is_o_batch(spark, tmp_path, monkeypatch):
    """The point of the MOR twin: a merge must APPEND a segment and
    leave every base data file byte-untouched (the copy-on-write twin
    rewrites the whole table per merge). Compaction pinned off: at toy
    scale any segment exceeds the fraction bound immediately."""
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    path = str(tmp_path / "t")
    LK.merge_upsert(
        spark, path, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), backend="mor"
    )
    before = _base_files(path)
    LK.merge_upsert(spark, path, _df(spark, [("a", "v2", 2)]), backend="mor")
    doomed = spark.createDataFrame([("b",)], "id string")
    LK.merge_delete(spark, path, doomed, backend="mor")
    assert _base_files(path) == before  # base untouched
    assert len(LK._mor_segments(path)) == 2  # upsert + tombstone appended
    assert _rows(spark, path) == {
        "a": ("v2", __import__("datetime").datetime(2024, 1, 2))
    }


def test_mor_direct_fold_for_corpus_sized_batches(spark, tmp_path, monkeypatch):
    """A batch at/past the compaction fraction (with a caller-supplied
    batch_rows hint) must merge straight into the NEXT base epoch —
    ONE corpus write, no transient corpus-sized segment — with the
    exact same last-wins result as the append route, and pre-existing
    live segments folded in."""
    import datetime as dt

    monkeypatch.setattr(LK, "MOR_DIRECT_FOLD_MIN_ROWS", 1)
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 0.5)
    path = str(tmp_path / "t")
    LK.merge_upsert(
        spark, path,
        _df(spark, [(f"k{i}", "v1", 1) for i in range(2000)]),
        backend="mor",
    )
    # a small append first (no hint): stays a segment — its bytes are
    # well under half the 2000-row base
    LK.merge_upsert(spark, path, _df(spark, [("k7", "v2", 2)]), backend="mor")
    assert len(LK._mor_segments(path)) == 1
    # corpus-sized batch with the hint: folds, no corpus segment lands
    LK.merge_upsert(
        spark, path,
        _df(spark, [(f"k{i}", "v3", 3) for i in range(1500)]),
        backend="mor", batch_rows=1500,
    )
    assert LK._mor_segments(path) == []  # pre-existing segment folded too
    assert LK._mor_spec(path)["base"] is not None  # new base epoch
    rows = _rows(spark, path)
    assert len(rows) == 2000
    assert rows["k7"] == ("v3", dt.datetime(2024, 1, 3))  # hinted batch won
    assert rows["k1700"] == ("v1", dt.datetime(2024, 1, 1))  # untouched kept
    # stale hinted batch loses against newer stored rows (last-wins kept)
    LK.merge_upsert(
        spark, path, _df(spark, [(f"k{i}", "stale", 2) for i in range(1500)]),
        backend="mor", batch_rows=1500,
    )
    assert _rows(spark, path)["k7"] == ("v3", dt.datetime(2024, 1, 3))


def test_mor_sticky_under_auto(spark, tmp_path, monkeypatch):
    """Once MOR, always MOR: backend='auto' merges keep appending."""
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1)]), backend="mor")
    LK.merge_upsert(spark, path, _df(spark, [("b", "v1", 1)]))  # auto
    assert LK.is_mor_table(path) and len(LK._mor_segments(path)) == 1
    assert set(_rows(spark, path)) == {"a", "b"}


def test_mor_compaction_folds_segments(spark, tmp_path, monkeypatch):
    """Past the fraction bound the segments fold into a NEW base epoch
    (pointer flip in spec.json); the resolved view is unchanged, the
    table stays MOR, and the new base alone carries the fold."""
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), backend="mor")
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 0.0)  # always compact
    LK.merge_upsert(spark, path, _df(spark, [("a", "v2", 2), ("c", "v1", 2)]), backend="mor")
    assert LK.is_mor_table(path) and LK._mor_segments(path) == []
    got = _rows(spark, path)
    assert got["a"][0] == "v2" and set(got) == {"a", "b", "c"}
    # the spec points at the new epoch, and reading IT (not the
    # retained stale epoch-0 files at the top level) yields the fold
    spec = LK._mor_spec(path)
    assert spec["base"] is not None and spec["folded"] >= 1
    folded = {
        r["id"]: r["v"]
        for r in spark.read.parquet(
            LK._mor_base_location(path, spec)
        ).collect()
    }
    assert folded == {"a": "v2", "b": "v1", "c": "v1"}


def test_mor_compaction_retains_previous_epoch_for_readers(
    spark, tmp_path, monkeypatch
):
    """The round-6 swap race is closed: a reader whose plan was built
    BEFORE compaction still collects correctly afterwards (its epoch's
    files are retained one cycle), and artifacts two epochs stale are
    cleaned on the next flip."""
    import os

    path = str(tmp_path / "t")
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), backend="mor")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v2", 2)]), backend="mor")
    reader = LK.read_table(spark, path)  # planned against epoch 0
    LK.compact_table(spark, path)  # epoch 1: flip, epoch-0 files retained
    got = {r["id"]: r["v"] for r in reader.collect()}  # old plan survives
    assert got == {"a": "v2", "b": "v1"}
    assert _base_files(path)  # epoch-0 top-level files still present
    spec1 = LK._mor_spec(path)
    assert spec1["base"] is not None
    # second flip: epoch-0 files and epoch-1's folded segments die
    LK.merge_upsert(spark, path, _df(spark, [("c", "v1", 3)]), backend="mor")
    LK.compact_table(spark, path)
    assert not _base_files(path)  # two-epochs-stale top level cleaned
    spec2 = LK._mor_spec(path)
    assert spec2["base"] != spec1["base"]
    assert os.path.isdir(os.path.join(path, "_mor", spec1["base"]))  # grace
    assert set(_rows(spark, path)) == {"a", "b", "c"}


def test_mor_many_segments_read_is_one_scan(spark, tmp_path, monkeypatch):
    """Plan-size bound: the segment log reads as ONE multi-path scan
    (seq rides in the data), so the resolve plan does not grow a scan
    node per segment — the round-6 union loop did."""
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v0", 1), ("z", "v0", 1)]), backend="mor")
    for i in range(12):
        LK.merge_upsert(
            spark, path, _df(spark, [("a", f"v{i + 1}", min(i + 2, 28))]),
            backend="mor",
        )
    assert len(LK._mor_segments(path)) == 12
    df = LK.read_table(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # constant scan count (base appears on the semi and anti legs, the
    # segment scan on the key and data legs) — NOT 12+ nodes
    assert plan.count("Scan parquet") <= 6, plan.count("Scan parquet")
    assert {r["id"]: r["v"] for r in df.collect()} == {"a": "v12", "z": "v0"}


def test_mor_delete_on_plain_table_falls_back(spark, tmp_path):
    """backend='mor' delete against a (still) plain-parquet table — the
    first run fetched nothing so no upsert ever converted the layout —
    must fall back to the anti-join delete, not fail mid-sync."""
    path = str(tmp_path / "t")
    LK.merge_upsert(
        spark, path, _df(spark, [("a", "v", 1), ("b", "v", 1)]),
        backend="parquet",
    )
    doomed = spark.createDataFrame([("a",)], "id string")
    LK.merge_delete(spark, path, doomed, backend="mor")
    assert set(_rows(spark, path)) == {"b"}
    assert not LK.is_mor_table(path)


def test_mor_bucketed_base_parts_join_exchange_free(
    spark, tmp_path, monkeypatch
):
    """n_buckets at creation lays the base out bucketed+sorted on the
    key, at every epoch: read_table_parts' untouched leg then joins an
    arbitrary id-keyed relation with ZERO state-side Exchange (only the
    other side shuffles into the bucket count) — the property the sync
    diff join rides (VERDICT r6 #1). Contrast-checked against a plain
    scan of the same files, which pays two exchanges.

    The bucket count is one more than the session's shuffle partitions,
    so an exchange INTO the buckets can never be confused with a plain
    exchange at the session default (on a 4-core host both were 4)."""
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    path = str(tmp_path / "t")
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions")) + 1
    rows = [(f"k{i}", "v1", 1) for i in range(50)]
    LK.merge_upsert(
        spark, path, _df(spark, rows), backend="mor", n_buckets=n_buckets
    )
    LK.merge_upsert(spark, path, _df(spark, [("k1", "v2", 2)]), backend="mor")
    got = _rows(spark, path)
    assert got["k1"][0] == "v2" and len(got) == 50

    base, winners, keys = LK.read_table_parts(spark, path)
    assert winners is not None
    other = spark.range(200).selectExpr("concat('k', id) as id", "id as x")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        import re

        def bucket_exchanges(df):
            """(state side bucketed?, exchanges INTO the bucket count).
            The only exchange targeting n_buckets partitions is the
            non-bucketed side being co-partitioned with the buckets; a
            tiny segment-keys distinct inside the broadcast leg shuffles
            at the session default and must not count."""
            plan = df._jdf.queryExecution().executedPlan().toString()
            into_buckets = len(
                re.findall(
                    rf"Exchange hashpartitioning\([^)]*, {n_buckets}\)",
                    plan,
                )
            )
            return "Bucketed: true" in plan, into_buckets

        bucketed, n = bucket_exchanges(base.join(other, "id"))
        assert bucketed and n == 1  # other side co-partitions; base free
        loc = LK._mor_base_location(path, LK._mor_spec(path))
        plain = spark.read.parquet(loc)
        bucketed, n = bucket_exchanges(plain.join(other, "id"))
        assert not bucketed and n == 0  # contrast: both sides re-shuffle

        # cross-session shape: catalog entry gone → re-registered on read
        spark.sql(f"DROP TABLE IF EXISTS `{LK._bucketed_table_name(loc)}`")
        assert _rows(spark, path)["k1"][0] == "v2"

        # compaction keeps the new epoch bucketed
        LK.compact_table(spark, path)
        base2, w2, _ = LK.read_table_parts(spark, path)
        assert w2 is None  # segments folded
        bucketed, n = bucket_exchanges(base2.join(other, "id"))
        assert bucketed and n == 1
        assert _rows(spark, path) == got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_mor_seg_broadcast_cap_falls_back_to_shuffle(
    spark, tmp_path, monkeypatch
):
    """Past the absolute cap the resolve stops FORCING the key-set
    broadcast (round-6 ADVICE: the 10% bound is relative, a standing
    corpus can accumulate a key set past the broadcast limits) — the
    strategy hint disappears from the logical plan and the optimizer is
    free to pick a shuffle join from its own size estimates (it may
    STILL broadcast a genuinely tiny set, which is correct). Same
    answer either way."""
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), backend="mor")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v2", 2)]), backend="mor")

    def hinted(df):
        return "strategy=broadcast" in (
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    assert hinted(LK.read_table(spark, path))  # under the cap: forced
    want = _rows(spark, path)
    monkeypatch.setattr(LK, "MOR_SEG_BROADCAST_MAX_BYTES", 0)
    assert not hinted(LK.read_table(spark, path))  # past it: unhinted
    assert _rows(spark, path) == want


def test_mor_delete_then_reinsert(spark, tmp_path):
    """A tombstone clears the key unconditionally (even if the stored
    order stamp is newer than a later re-insert's): sequential-fold
    semantics, the property the (order, seq) resolve window must keep."""
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v9", 9)]), backend="mor")
    doomed = spark.createDataFrame([("a",)], "id string")
    LK.merge_delete(spark, path, doomed, backend="mor")
    assert _rows(spark, path) == {}
    # re-insert with an OLDER stamp than the deleted row: must win
    LK.merge_upsert(spark, path, _df(spark, [("a", "fresh", 1)]), backend="mor")
    assert _rows(spark, path)["a"][0] == "fresh"


def test_mor_random_sequences_match_sequential_fold(spark, tmp_path):
    """Property: any interleaving of upserts and deletes resolved by
    the MOR read equals folding the merges sequentially (the CoW twin's
    semantics). Driven by a seeded generator over a small key space so
    collisions, re-inserts, stale updates, and repeated deletes all
    occur; the model is a 10-line python fold."""
    import random

    rng = random.Random(7)
    keys = [f"k{i}" for i in range(6)]
    model: dict[str, tuple[str, int]] = {}
    path = str(tmp_path / "t")
    for step in range(12):
        if step and rng.random() < 0.3:
            doomed_keys = rng.sample(keys, rng.randint(1, 3))
            LK.merge_delete(
                spark,
                path,
                spark.createDataFrame([(k,) for k in doomed_keys], "id string"),
                backend="mor",
            )
            for k in doomed_keys:
                model.pop(k, None)
        else:
            batch = [
                (k, f"v{step}", rng.randint(1, 5))
                for k in rng.sample(keys, rng.randint(1, 4))
            ]
            LK.merge_upsert(spark, path, _df(spark, batch), backend="mor")
            # model: within-batch last-wins by order, then fold with
            # "update wins iff order >= stored order"
            best: dict[str, tuple[str, int]] = {}
            for k, v, d in batch:
                if k not in best or d >= best[k][1]:
                    best[k] = (v, d)
            for k, (v, d) in best.items():
                if k not in model or d >= model[k][1]:
                    model[k] = (v, d)
    got = {
        r["id"]: (r["v"], r["indexed_at"].day)
        for r in LK.read_table(spark, path).collect()
    }
    assert got == model


def test_mor_read_is_o_segments(spark, tmp_path, monkeypatch):
    """Plan pin: the resolved MOR read must keep the untouched-keys
    base leg shuffle-free — the segment key set arrives by BROADCAST
    join on both the anti (untouched) and semi (affected) probes, so
    no Exchange sits between the base scan and the final union."""
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), backend="mor")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v2", 2)]), backend="mor")
    plan = LK.read_table(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # the untouched-base leg is a broadcast ANTI join (no base shuffle);
    # the last-wins Window exists on the affected leg only
    assert "LeftAnti" in plan and "Window" in plan


def test_cow_merge_on_mor_table_folds_segments(spark, tmp_path, monkeypatch):
    """An EXPLICIT backend='parquet' merge on a MOR table is a
    MOR→CoW conversion: the segments must fold into the rewritten
    table (a plain base read here would silently lose them)."""
    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    path = str(tmp_path / "t")
    LK.merge_upsert(spark, path, _df(spark, [("a", "v1", 1)]), backend="mor")
    LK.merge_upsert(spark, path, _df(spark, [("b", "v1", 2)]), backend="mor")
    assert len(LK._mor_segments(path)) == 1  # b lives only in a segment
    LK.merge_upsert(
        spark, path, _df(spark, [("c", "v1", 3)]), backend="parquet"
    )
    assert not LK.is_mor_table(path)  # converted by the swap
    assert set(_rows(spark, path)) == {"a", "b", "c"}


def test_mor_legacy_segments_without_seq_column(spark, tmp_path, monkeypatch):
    """Upgrade safety (round-7 ADVICE): segments written by the
    pre-seq-in-data layout carry no ``__mor_seq`` column — the resolve
    must recover the sequence from the segment PATH instead of silently
    dropping every legacy upsert and resurrecting deleted rows."""
    import os

    from pyspark.sql import functions as F

    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    # table path itself contains 'seg_<digits>': the path-recovery regex
    # must anchor to the _mor dir, not take the first match in the path
    path = str(tmp_path / "seg_2024" / "t")
    LK.merge_upsert(
        spark, path, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]), backend="mor"
    )

    def legacy_append(batch):
        n = LK._mor_next_seq(path, LK._mor_spec(path))
        batch.write.parquet(os.path.join(path, LK._MOR_DIR, f"seg_{n:06d}"))

    # legacy upsert for a (no __mor_seq in the data) ...
    legacy_append(
        _df(spark, [("a", "v2", 2)]).withColumn("__mor_op", F.lit("u"))
    )
    # ... a legacy tombstone for b ...
    legacy_append(
        spark.createDataFrame([("b",)], "id string").withColumn(
            "__mor_op", F.lit("d")
        )
    )
    # ... and a NEW-layout upsert on top: the mixed log must resolve
    LK.merge_upsert(spark, path, _df(spark, [("c", "v1", 3)]), backend="mor")
    got = _rows(spark, path)
    assert got["a"][0] == "v2"  # legacy upsert applied, not discarded
    assert "b" not in got  # legacy tombstone honored, b not resurrected
    assert got["c"][0] == "v1"
    # sequential-fold order across the legacy/new boundary: a LATER
    # legacy-style re-insert of b at an older order stamp must win
    legacy_append(
        _df(spark, [("b", "back", 1)]).withColumn("__mor_op", F.lit("u"))
    )
    got = _rows(spark, path)
    assert got["b"][0] == "back"
    # and compaction folds the mixed log into the same answer
    LK.compact_table(spark, path)
    assert _rows(spark, path) == got


def test_mor_past_cap_resolve_base_stays_sort_free(spark, tmp_path, monkeypatch):
    """VERDICT r7 #5 (high-override-fraction resolve): past the
    segment-key broadcast cap the resolve's probes run as plain
    sort-merge joins — the bucketed+sorted base must STILL contribute
    neither an Exchange nor a Sort to the untouched leg (only the key
    side shuffles/sorts into the bucket count). A full-corpus sort on
    the untouched side would make a 30-50%-override resolve
    O(corpus log corpus) at scale."""
    import re

    monkeypatch.setattr(LK, "MOR_COMPACT_FRACTION", 1e9)
    monkeypatch.setattr(LK, "MOR_SEG_BROADCAST_MAX_BYTES", 0)  # past cap
    path = str(tmp_path / "t")
    LK.merge_upsert(
        spark,
        path,
        _df(spark, [(f"k{i}", "v1", 1) for i in range(50)]),
        backend="mor",
        n_buckets=4,
    )
    # override half the corpus in one segment
    LK.merge_upsert(
        spark,
        path,
        _df(spark, [(f"k{i}", "v2", 2) for i in range(0, 50, 2)]),
        backend="mor",
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        untouched, winners, _keys = LK.read_table_parts(spark, path)
        assert winners is not None
        plan = untouched._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert "Bucketed: true" in plan
        # exactly ONE exchange into the bucket count (the key side);
        # the base streams from its bucketed files
        assert len(re.findall(r"Exchange hashpartitioning\([^)]*, 4\)", plan)) == 1
        # exactly ONE Sort (the key side); the base's sortBy order is
        # recognized, so no corpus-sized Sort node exists
        assert plan.count("Sort [") == 1
        got = _rows(spark, path)
        assert len(got) == 50
        assert got["k0"][0] == "v2" and got["k1"][0] == "v1"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_table_exists_probes_markers(spark, tmp_path):
    """Round-8 ADVICE: an empty or partially-written directory (an
    interrupted first write) must read as 'no table yet' — a
    recognizable first run — not route into a parquet schema-inference
    error. A format marker or a data file flips it to True."""
    path = str(tmp_path / "t")
    assert not LK.table_exists(path)  # missing entirely

    import os

    os.makedirs(path)
    assert not LK.table_exists(path)  # empty dir: aborted bootstrap
    # _SUCCESS alone (crashed mid-write cleanup) is still not a table
    open(os.path.join(path, "_SUCCESS"), "w").close()
    assert not LK.table_exists(path)
    # a bare _mor dir without a committed spec is not a MOR table either
    os.makedirs(os.path.join(path, "_mor"))
    assert not LK.table_exists(path) and not LK.is_mor_table(path)

    # real writes flip it
    p2 = str(tmp_path / "t2")
    _df(spark, [("a", "v1", 1)]).write.parquet(p2)
    assert LK.table_exists(p2)
    p3 = str(tmp_path / "t3")
    LK.merge_upsert(spark, p3, _df(spark, [("a", "v1", 1)]), backend="mor")
    assert LK.table_exists(p3) and LK.is_mor_table(p3)


@pytest.mark.parametrize("backend", ["parquet", "mor"])
def test_merge_upsert_unique_keys_fast_path(spark, tmp_path, backend):
    """unique_keys contract: on key-unique batches the fast path (dedup
    window skipped) must produce the identical table state as the
    default path — first write (where it saves a corpus shuffle+sort),
    a follow-up merge, and on mor a bucketed first write whose base
    must stay bucketed through the resolve."""
    base = str(tmp_path / "a")
    fast = str(tmp_path / "b")
    b1 = _df(spark, [("a", "v1", 1), ("b", "v1", 1), ("c", "v1", 1)])
    b2 = _df(spark, [("a", "v2", 2), ("d", "v1", 2)])
    for path, uk in [(base, False), (fast, True)]:
        LK.merge_upsert(spark, path, b1, backend=backend, unique_keys=uk,
                        n_buckets=4 if backend == "mor" else None)
        LK.merge_upsert(spark, path, b2, backend=backend, unique_keys=uk,
                        n_buckets=4 if backend == "mor" else None)
    assert _rows(spark, base) == _rows(spark, fast)
    if backend == "mor":
        assert LK._mor_spec(fast)["n_buckets"] == 4
