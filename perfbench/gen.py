"""Seeded inputs for the nightly-cycle benchmark.

Everything the engine sees comes from here: a stub Plone site (listing
pages and per-document JSON bodies, spread over several hosts so the
fetch runs as parallel tasks), the per-night change mix, and the query
vectors and id set of the reads. The same seed gives the same inputs;
the engine only ever talks to the site through its transport and never
reads this module's state.

The document bodies follow figures measured once on the ``documents``
table of the engine's sf0.1 test data (5000 rows; see
``perfbench/NOTES.md``); the benchmark reads nothing outside its own
files at run time:

- length: uniform between 10 and 100 words (measured: min 10, max 100,
  mean 54, flat 10-word histogram);
- words: drawn uniformly from a 30-word vocabulary (measured: each word
  3.3-3.4% of all words), so a word 3-gram sits in ~10 of 5000 docs;
- near-copies: 5% of the docs are a copy of another doc with the word
  ``dup`` appended (measured: 250 of 5000; every near-duplicate pair at
  word-3-gram Jaccard >= 0.8 is such a copy, and 9.5% of docs sit in a
  cluster).

The change mix, the share of an edit, and the fetch-error shares are
assumptions of the benchmark, not measurements.
"""

from __future__ import annotations

import datetime as _dt
import json
import random
from dataclasses import dataclass, field
from urllib.parse import parse_qs, urlparse

SITE = "https://portal.bench.example"
API_PART = "api"
N_HOSTS = 8
# the measured vocabulary, and the length and near-copy figures above
VOCAB = sorted("""a agg batch big column customer data fast filter group
    hash join key line merge order part query row scan slow small sort
    spark stream table the value vector window""".split())
WORDS_MIN, WORDS_MAX = 10, 100
NEAR_COPY_SHARE = 0.05
NEAR_COPY_MARK = "dup"
EMBED_DIM = 8  # the engine's stub embedder width (operators/embeddings.py)
_EPOCH = _dt.datetime(2024, 1, 1)


# Assumed nightly change mix (not measured): the share of the live
# corpus each night adds, modifies and deletes (at least one doc each),
# the share of words an edit rewrites, and the fetch-error shares (at
# least one doc each): ``TRANSIENT`` of the fetched docs fail their
# first attempt and succeed on retry; ``PERMANENT`` of the new docs fail
# every attempt (they land in the quarantine ledger).
NEW, MODIFIED, DELETED = 0.01, 0.01, 0.002
EDIT = 0.15  # enough to move a near-copy out of its cluster
TRANSIENT, PERMANENT = 0.05, 0.02


@dataclass
class Night:
    new: list[str]
    modified: list[str]
    deleted: list[str]
    transient: list[str]
    permanent: list[str]  # the subset of ``new`` that never fetches


def _stamp(night: int) -> str:
    return (_EPOCH + _dt.timedelta(days=night)).strftime("%Y-%m-%dT%H:%M:%S")


class SiteModel:
    """The generator-side truth of the stub site: every doc's body and
    stamp, which docs fail to fetch, and the night-by-night changes.
    ``transient`` and ``permanent`` are the fetch-error shares of the
    standing site."""

    def __init__(self, seed: int, n_docs: int, transient: float = 0.05,
                 permanent: float = 0.005):
        self.rng = random.Random(seed)
        self.docs: dict[str, tuple[str, str]] = {}  # id -> (modified, text)
        self._ids: list[str] = []  # self.docs keys in creation order
        self.night_no = 0
        self._next = 0
        for _ in range(n_docs):
            self._add()
        ids = sorted(self.docs)
        self.permanent = set(self.rng.sample(ids, round(permanent * len(ids))))
        self.transient = set(self.rng.sample(ids, round(transient * len(ids))))

    # -- bodies ---------------------------------------------------------

    def _fresh_text(self) -> str:
        n = self.rng.randint(WORDS_MIN, WORDS_MAX)
        return " ".join(self.rng.choices(VOCAB, k=n))

    def _edit(self, text: str) -> str:
        """Rewrite ``EDIT`` of the words (at least one) at random."""
        words = text.split(" ")
        for _ in range(max(1, round(len(words) * EDIT))):
            words[self.rng.randrange(len(words))] = self.rng.choice(VOCAB)
        return " ".join(words)

    def _body(self) -> str:
        if self.docs and self.rng.random() < NEAR_COPY_SHARE:
            src = self.docs[self.rng.choice(self._ids)][1]
            return f"{src} {NEAR_COPY_MARK}"
        return self._fresh_text()

    def _add(self) -> str:
        i = self._next
        self._next += 1
        doc_id = f"https://h{i % N_HOSTS}.bench.example/doc/{i}"
        self.docs[doc_id] = (_stamp(self.night_no), self._body())
        self._ids.append(doc_id)
        return doc_id

    # -- nights ---------------------------------------------------------

    def night(self) -> Night:
        """Advance the site by one night of changes."""
        self.night_no += 1
        stamp = _stamp(self.night_no)
        live = sorted(set(self.docs) - self.permanent)
        n = len(live)
        deleted = self.rng.sample(live, max(1, round(DELETED * n)))
        rest = sorted(set(live) - set(deleted))
        modified = self.rng.sample(rest, max(1, round(MODIFIED * n)))
        for doc_id in deleted:
            del self.docs[doc_id]
        gone = set(deleted)
        self._ids = [i for i in self._ids if i not in gone]
        for doc_id in modified:
            old = self.docs[doc_id][1]
            text = self._edit(old)
            if text == old:
                text = self._fresh_text()
            self.docs[doc_id] = (stamp, text)
        new = [self._add() for _ in range(max(1, round(NEW * n)))]
        # at least one fetch error of each kind per night
        permanent = self.rng.sample(new, max(1, round(PERMANENT * len(new))))
        self.permanent |= set(permanent)
        fetched = sorted(set(new + modified) - set(permanent))
        self.transient = set(self.rng.sample(
            fetched, max(1, round(TRANSIENT * len(fetched)))))
        return Night(sorted(new), sorted(modified), sorted(deleted),
                     sorted(self.transient), sorted(permanent))

    def live(self) -> set[str]:
        """Ids the served corpus must hold: listed and fetchable."""
        return set(self.docs) - self.permanent

    def texts(self, ids) -> dict[str, str]:
        return {i: self.docs[i][1] for i in ids}

    def transport(self, counters=None) -> "StubSite":
        return StubSite(
            {i: m for i, (m, _t) in self.docs.items()},
            {i: t for i, (_m, t) in self.docs.items()},
            frozenset(self.permanent), frozenset(self.transient), counters,
        )

    # -- read inputs ----------------------------------------------------

    def queries(self, n: int = 8) -> list[list[float]]:
        """``n`` unit query vectors."""
        qs = []
        for _ in range(n):
            v = [self.rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)]
            nrm = sum(x * x for x in v) ** 0.5
            qs.append([x / nrm for x in v])
        return qs

    def lookup_ids(self, size: int = 20) -> list[str]:
        """A requested id set of ``size`` docs."""
        return sorted(self.rng.sample(sorted(self.docs), size))


@dataclass
class StubSite:
    """A picklable stub Plone site: ``@search`` listing pages plus one
    JSON body per doc. Docs in ``transient`` answer 503 to their first
    request within a fetch task and 200 afterwards; docs in
    ``permanent`` always answer 500. ``counters`` is an optional
    ``(calls, errors)`` pair of Spark accumulators the site bumps on
    every request and every answer other than 200."""

    modified: dict[str, str]
    bodies: dict[str, str]
    permanent: frozenset
    transient: frozenset
    counters: tuple | None = None
    _seen: set = field(default_factory=set, repr=False)

    def __call__(self, url: str) -> tuple[int, str]:
        status, body = self._answer(url)
        if self.counters is not None:
            self.counters[0].add(1)
            if status != 200:
                self.counters[1].add(1)
        return status, body

    def _answer(self, url: str) -> tuple[int, str]:
        if "@search" in url:
            q = parse_qs(urlparse(url).query)
            start, size = int(q["b_start"][0]), int(q["b_size"][0])
            ids = sorted(self.modified)
            items = [
                {"@id": i, "@type": "Document", "modified": self.modified[i]}
                for i in ids[start:start + size]
            ]
            batching = {"next": "more"} if start + size < len(ids) else {}
            return 200, json.dumps({"items": items, "batching": batching})
        if url in self.permanent:
            return 500, "permanent failure"
        if url in self.transient and url not in self._seen:
            self._seen.add(url)
            return 503, "transient failure"
        text = self.bodies.get(url)
        if text is None:
            return 404, "gone"
        return 200, json.dumps({
            "@id": url, "title": text, "language": "en",
            "review_state": "published",
        })
