"""The benchmark's input generator is a pure function of its seed.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

from perfbench import gen


def _inputs(seed: int) -> dict:
    """Everything the engine could observe for one seed: the stub
    site's listing and bodies (bootstrap and after two nights), each
    night's change mix and error sets, query vectors and lookup ids."""
    model = gen.SiteModel(seed, 300)
    site = model.transport()
    out = {
        "listing": site(f"{gen.SITE}/api/@search?b_size=500&b_start=0"),
        "bodies": {i: site(i) for i in sorted(model.docs)},
        "nights": [],
    }
    for _ in range(2):
        out["nights"].append(vars(model.night()))
    site = model.transport()
    out["bodies_after"] = {i: site(i) for i in sorted(model.docs)}
    out["queries"] = model.queries()
    out["lookups"] = model.lookup_ids()
    return out


def test_same_seed_same_inputs():
    a, b = _inputs(7), _inputs(7)
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)


def test_different_seeds_different_inputs():
    a, b = _inputs(7), _inputs(8)
    for key in ("bodies", "nights", "bodies_after", "queries", "lookups"):
        assert json.dumps(a[key], sort_keys=True) != json.dumps(
            b[key], sort_keys=True), key


def test_bodies_follow_the_measured_figures():
    model = gen.SiteModel(11, 2000)
    texts = [t for _m, t in model.docs.values()]
    copies = [t for t in texts if t.endswith(" " + gen.NEAR_COPY_MARK)]
    fresh = [t.split(" ") for t in texts if t not in copies]
    assert {len(w) for w in fresh} <= set(range(gen.WORDS_MIN, gen.WORDS_MAX + 1))
    assert {x for w in fresh for x in w} == set(gen.VOCAB)
    # every near-copy is another doc's body plus the marker
    assert 0.03 < len(copies) / len(texts) < 0.07
    assert all(t.rsplit(" ", 1)[0] in texts for t in copies)


def test_site_behaviour():
    model = gen.SiteModel(3, 200, transient=0.1, permanent=0.05)
    site = model.transport()
    perm = sorted(model.permanent)
    trans = sorted(model.transient - model.permanent)
    assert perm and trans
    assert site(perm[0])[0] == 500 and site(perm[0])[0] == 500
    # a transient failure answers once, then serves the body
    assert site(trans[0])[0] == 503
    status, body = site(trans[0])
    assert status == 200 and json.loads(body)["@id"] == trans[0]
    # listing pages cover every doc exactly once
    ids = []
    for start in (0, 100):
        page = json.loads(site(
            f"{gen.SITE}/api/@search?b_size=100&b_start={start}")[1])
        ids += [it["@id"] for it in page["items"]]
    assert sorted(ids) == sorted(model.docs)
    # the docs spread over several hosts, so the fetch runs in parallel
    assert len({i.split("/")[2] for i in ids}) == gen.N_HOSTS


def test_night_mix_and_live_set():
    model = gen.SiteModel(5, 1000)
    before = set(model.docs)
    night = model.night()
    assert (len(night.new), len(night.modified), len(night.deleted)) == (
        10, 10, 2)
    assert set(night.new).isdisjoint(before)
    assert set(night.deleted) <= before and not set(night.deleted) & set(model.docs)
    assert night.permanent and night.transient  # at least one of each
    assert set(night.permanent) <= set(night.new)
    assert set(night.transient) <= set(night.new) | set(night.modified)
    assert model.live() == set(model.docs) - model.permanent
