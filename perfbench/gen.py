"""Seeded load generator: CDR JSON-lines corpus, glossary, query stream and
ingest update batches, with the ground truth the answer checker needs.

Everything here is plain Python and runs outside the timed region. The same
seed always yields the same files and the same truth.

Corpus shape (per document):
  * ``raw_content``: HTML with a ``<title>``, a metadata ``<div>`` holding an
    ISO date, an e-mail address and a phone number, and 1-3 ``<p>``
    paragraphs of 40-200 filler tokens with 0-3 planted glossary terms;
  * ``url`` (its host feeds the hostname extractor), ``posted_date`` (a
    structured copy of the date, used by query filters) and
    ``kafka_offset`` (the ingest order column).

Filler and glossary words come from disjoint vocabularies of 5-9 letter
words, so no word is a query-compiler stopword and a glossary term only
matches where it was planted (or where a planted two-token term contains
it). Planted terms are separated by filler, so two plants never form a
third term across their boundary.
"""

from __future__ import annotations

import bisect
import datetime
import json
import os
import random
from dataclasses import dataclass, field

from oracle import keyword_topk

LETTERS = "abcdefghijklmnopqrstuvwxyz"
N_FILLER_WORDS = 2000
N_GLOSSARY_WORDS = 1300
N_HOSTS = 200
N_TERMS = 1000
TITLE_PLANT_P = 0.25       # share of planted terms also put in the title


def _words(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(LETTERS) for _ in range(rng.randint(5, 9)))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


class Zipf:
    """Zipf(s) sampler over ``items`` (rank 1 = ``items[0]``)."""

    def __init__(self, items: list, s: float = 1.1):
        self.items = items
        acc, self.cdf = 0.0, []
        for r in range(1, len(items) + 1):
            acc += 1.0 / r ** s
            self.cdf.append(acc)

    def draw(self, rng: random.Random):
        x = rng.random() * self.cdf[-1]
        return self.items[min(bisect.bisect_left(self.cdf, x),
                              len(self.items) - 1)]


@dataclass
class Doc:
    """Ground truth for one document version."""
    doc_id: str
    kafka_offset: int
    url: str
    host: str
    posted_date: str
    title: str          # exactly what ``html_title`` returns
    text: str           # exactly what ``html_main_content`` returns
    terms: frozenset    # every glossary term the text contains
    raw_content: str = field(repr=False, default="")

    def record(self) -> dict:
        return {"doc_id": self.doc_id, "kafka_offset": self.kafka_offset,
                "url": self.url, "posted_date": self.posted_date,
                "raw_content": self.raw_content}


class Corpus:
    """Vocabularies plus a document factory, all driven by one RNG."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        taken: set[str] = set()
        filler = _words(self.rng, N_FILLER_WORDS, taken)
        gwords = _words(self.rng, N_GLOSSARY_WORDS, taken)
        terms: list[str] = []
        seen: set[str] = set()
        while len(terms) < N_TERMS:
            t = (self.rng.choice(gwords) if self.rng.random() < 0.6 else
                 f"{self.rng.choice(gwords)} {self.rng.choice(gwords)}")
            if t not in seen:
                seen.add(t)
                terms.append(t)
        self.glossary = terms
        self.term_set = frozenset(terms)
        self.filler = Zipf(filler, 1.05)
        self.filler_words = filler
        self.plants = Zipf(terms, 1.0)
        hosts = [f"www.{w}.com" for w in _words(self.rng, N_HOSTS, taken)]
        self.hosts = Zipf(hosts, 0.9)
        self._ids: set[str] = set()

    def new_id(self) -> str:
        while True:
            d = f"{self.rng.getrandbits(48):012x}"
            if d not in self._ids:
                self._ids.add(d)
                return d

    def doc(self, doc_id: str, offset: int) -> Doc:
        rng = self.rng
        body = [self.filler.draw(rng) for _ in range(rng.randint(40, 200))]
        planted = [self.plants.draw(rng) for _ in range(rng.randint(0, 3))]
        # plant at distinct gaps, never adjacent, so plants stay separated
        gaps = sorted(rng.sample(range(1, len(body), 2), len(planted)),
                      reverse=True)
        for g, t in zip(gaps, planted):
            body.insert(g, t)
        text = " ".join(body)
        toks = text.split(" ")
        grams = set(toks) | {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        title_words = [self.filler.draw(rng)
                       for _ in range(rng.randint(3, 6))]
        for t in planted:
            if rng.random() < TITLE_PLANT_P:
                title_words.append(t)
        title = " ".join(title_words).capitalize()
        host = self.hosts.draw(rng)
        url = f"https://{host}/{self.filler.draw(rng)}/{rng.randint(1, 99999)}"
        day = rng.randint(0, 14 * 365)
        y, m, d = _date(day)
        posted = f"{y:04d}-{m:02d}-{d:02d}"
        mail = f"{self.filler.draw(rng)}{rng.randint(1, 999)}@{host[4:]}"
        phone = (f"({rng.randint(201, 989)}) {rng.randint(200, 999)}-"
                 f"{rng.randint(0, 9999):04d}")
        # paragraph breaks at token boundaries; main content rejoins them
        # with single spaces
        n_par = rng.randint(1, 3)
        cuts = sorted(rng.sample(range(1, len(body)), n_par - 1))
        paras = [" ".join(body[a:b])
                 for a, b in zip([0, *cuts], [*cuts, len(body)])]
        html = ("<html><head><title>" + title + "</title></head><body>"
                f'<div class="meta">Posted {posted} by {mail}, call {phone}'
                "</div>" + "".join(f"<p>{p}</p>" for p in paras)
                + "</body></html>")
        return Doc(doc_id, offset, url, host, posted, title, text,
                   frozenset(grams & self.term_set), html)


def _date(day: int) -> tuple[int, int, int]:
    d = datetime.date(2010, 1, 1) + datetime.timedelta(days=day)
    return d.year, d.month, d.day


def write_jsonl(path: str, docs: list[Doc]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for d in docs:
            f.write(json.dumps(d.record()) + "\n")
    return os.path.getsize(path)


def write_glossary(path: str, terms: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for t in terms:
            f.write(json.dumps({"term": t}) + "\n")


# --- query stream -------------------------------------------------------------

QUERY_KINDS = ("keyword", "keyword_text", "keyword_filter", "keyword_should",
               "page", "facet", "bm25")


def query_stream(seed: int, corpus: Corpus, docs: list[Doc], n: int
                 ) -> list[dict]:
    """``n`` queries cycling through every kind. Query terms are drawn
    Zipf over the glossary terms that match at least one document (most
    frequent first), so some queries match many documents and some few."""
    rng = random.Random(seed * 7919 + 17)
    freq: dict[str, int] = {}
    for d in docs:
        for t in d.terms:
            freq[t] = freq.get(t, 0) + 1
    ranked = sorted(freq, key=lambda t: (-freq[t], t))
    terms = Zipf(ranked, 1.0)
    common = corpus.filler_words[:40]
    dates = sorted(d.posted_date for d in docs)
    out = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        term = terms.draw(rng)
        q: dict = {"kind": kind, "term": term}
        if kind == "keyword_text":
            q["phrase"] = rng.choice(common)
        elif kind in ("keyword_filter", "keyword_should"):
            q["since"] = dates[rng.randrange(len(dates) // 4,
                                             3 * len(dates) // 4)]
        elif kind == "facet":
            q["field"] = rng.choice(("keyword", "hostname"))
        elif kind == "bm25":
            q["terms"] = term.split() + [rng.choice(common)]
        out.append(q)
    return out


# --- ingest batches -----------------------------------------------------------

@dataclass
class Batch:
    docs: list[Doc]
    n_new: int
    fresh_term: str            # its expected top-k holds a batch document
    state_after: dict          # doc_id -> Doc, the table after this batch


def ingest_batches(corpus: Corpus, seed_docs: list[Doc], n_batches: int,
                   batch_docs: int, update_frac: float = 0.2
                   ) -> list[Batch]:
    """Batches that land in order: ``1 - update_frac`` new documents and
    ``update_frac`` rewrites of existing ``doc_id``s, each with a higher
    ``kafka_offset`` than anything before it."""
    rng = corpus.rng
    state = {d.doc_id: d for d in seed_docs}
    offset = max(d.kafka_offset for d in seed_docs) + 1
    postings: dict[str, set[str]] = {}
    for d in seed_docs:
        for t in d.terms:
            postings.setdefault(t, set()).add(d.doc_id)
    out = []
    for _ in range(n_batches):
        n_upd = int(batch_docs * update_frac)
        upd_ids = rng.sample(sorted(state), n_upd)
        ids = [corpus.new_id() for _ in range(batch_docs - n_upd)] + upd_ids
        rng.shuffle(ids)
        docs = []
        for did in ids:
            d = corpus.doc(did, offset)
            offset += 1
            old = state.get(did)
            if old is not None:
                for t in old.terms:
                    postings[t].discard(did)
            for t in d.terms:
                postings.setdefault(t, set()).add(did)
            state[did] = d
            docs.append(d)
        out.append(Batch(docs, batch_docs - n_upd,
                         _fresh_term(docs, state, postings),
                         dict(state)))
    return out


def _fresh_term(batch: list[Doc], state: dict, postings: dict) -> str:
    """A term whose expected keyword top-10 on the new table contains at
    least one document of ``batch`` (rarest candidates first)."""
    ids = {d.doc_id for d in batch}
    cands = sorted({t for d in batch for t in d.terms},
                   key=lambda t: (len(postings[t]), t))
    for t in cands:
        top = keyword_topk(state, t, postings=postings)
        if any(did in ids for did, _ in top):
            return t
    raise ValueError("no batch term reaches the top-k; enlarge the batch")

