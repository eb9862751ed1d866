"""Seeded generators: the synthetic movies catalog, the per-tick edit
scripts and the per-client request streams.

Everything here is pure Python driven by ``random.Random`` instances
seeded from the run's ``--seed``; the engine only ever sees the rows
and request bodies these functions return. The same seed gives
byte-identical inputs (``perfbench/test_perfbench.py`` checks it).

Shape (``SHAPE`` below, copied into the design notes):

- a vocabulary of ``vocab`` pseudo-words, a share of them Cyrillic so
  both Snowball stemmers of the ``ru_en`` analyzer run;
- title and description words drawn by Zipf (exponent ``zipf_words``)
  over that vocabulary;
- ``genres`` genres, ``~genre_links`` distinct genres per film drawn by
  Zipf (``zipf_genres``);
- ``persons`` persons, ``~person_links`` person links per film, the
  person drawn by Zipf (``zipf_persons``) so a few persons appear in
  many films and renaming one of them fans out to many documents.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import random
from collections import Counter

SHAPE = {
    "films": 500,
    "genres": 26,
    "persons": 1000,
    "genre_links": 2,
    "person_links": 5,
    "vocab": 3000,
    "cyrillic_share": 0.15,
    "zipf_words": 1.07,
    "zipf_persons": 1.0,
    "zipf_genres": 0.8,
    "title_words": [2, 5],
    "description_words": [8, 20],
    "description_null_share": 0.1,
}

# per-tick edit batch shape (catalog_cdc)
EDIT_SHAPE = {
    "film_edits": 12,
    "new_films": 6,
    "film_deletes": 3,
    "person_renames": 3,
    "popular_rename_every": 3,
    "popular_fanouts": [30, 60, 120],
    "tail_rank_from": 100,
    "genre_links_added": 6,
    "genre_links_removed": 4,
    "person_links_added": 10,
    "person_links_removed": 6,
}

ROLES = ("actor", "actor", "actor", "director", "writer")
TYPES = ("movie", "movie", "movie", "tv_show")
EPOCH = dt.datetime(2024, 1, 1)

_LATIN_ON = "b c d f g h k l m n p r s t v z br tr st pl gr".split()
_LATIN_NUC = "a e i o u ai ea ou".split()
_CYR_ON = "б в г д ж з к л м н п р с т х".split()
_CYR_NUC = "а е и о у ы я".split()


def rng_for(seed: int, *parts) -> random.Random:
    """An independent, reproducible stream for one purpose of one run
    (catalog, tick ``n``, client ``i``): the stream is keyed by a hash
    of the seed and the purpose, so adding a consumer never shifts the
    draws of another."""
    key = ":".join(str(p) for p in (seed, *parts)).encode()
    return random.Random(int.from_bytes(hashlib.sha256(key).digest()[:8], "big"))


class Zipf:
    """Rank sampler with P(rank r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n: int, s: float):
        acc, cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            cum.append(acc)
        self._cum, self._total = cum, acc

    def __call__(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cum, rng.random() * self._total)


def _uuid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-8{h[17:20]}-{h[20:]}"


def _words(rng: random.Random, n: int, onsets, nuclei, lo=2, hi=3) -> list[str]:
    out, seen = [], set()
    while len(out) < n:
        w = "".join(
            rng.choice(onsets) + rng.choice(nuclei)
            for _ in range(rng.randint(lo, hi))
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def vocabulary(seed: int, size: int, cyr_share: float) -> list[str]:
    """``size`` distinct pseudo-words; rank order is the Zipf order, and
    Cyrillic words are interleaved so they occur at every frequency."""
    rng = rng_for(seed, "vocab")
    n_cyr = int(size * cyr_share)
    lat = _words(rng, size - n_cyr, _LATIN_ON, _LATIN_NUC)
    cyr = _words(rng, n_cyr, _CYR_ON, _CYR_NUC)
    out = lat + [w for w in cyr if w not in set(lat)]
    rng.shuffle(out)
    return out


class Catalog:
    """The generated catalog as plain row tuples in the column order of
    the engine's movies schemas (``schemas.MOVIES_TABLES``), plus the
    samplers the edit scripts and request streams share."""

    TABLES = ("film_work", "genre", "person", "genre_film_work", "person_film_work")

    def __init__(self, seed: int):
        self.seed = seed
        rng = rng_for(seed, "catalog")
        self.vocab = vocabulary(seed, SHAPE["vocab"], SHAPE["cyrillic_share"])
        self.word_zipf = Zipf(len(self.vocab), SHAPE["zipf_words"])
        self.person_zipf = Zipf(SHAPE["persons"], SHAPE["zipf_persons"])
        self.genre_zipf = Zipf(SHAPE["genres"], SHAPE["zipf_genres"])
        self._next_link = 0

        self.genre = [
            (_uuid(rng), f"Genre {self.vocab[i].capitalize()}", None,
             EPOCH, EPOCH)
            for i in range(SHAPE["genres"])
        ]
        self.person = [
            (_uuid(rng), self._person_name(rng), EPOCH, EPOCH)
            for _ in range(SHAPE["persons"])
        ]
        self.film_work: dict[str, tuple] = {}
        self.genre_film_work: dict[str, tuple] = {}
        self.person_film_work: dict[str, tuple] = {}
        for _ in range(SHAPE["films"]):
            self.add_film(rng, EPOCH)

    # -- row builders ---------------------------------------------------

    def _person_name(self, rng: random.Random) -> str:
        return " ".join(
            self.vocab[self.word_zipf(rng)].capitalize() for _ in range(2)
        )

    def text(self, rng: random.Random, lo: int, hi: int) -> str:
        return " ".join(
            self.vocab[self.word_zipf(rng)] for _ in range(rng.randint(lo, hi))
        )

    def film_row(self, rng: random.Random, fid: str, title: str, ts) -> tuple:
        desc = (
            None
            if rng.random() < SHAPE["description_null_share"]
            else self.text(rng, *SHAPE["description_words"])
        )
        return (
            fid,
            title,
            desc,
            dt.date(1950 + rng.randrange(75), 1 + rng.randrange(12), 1),
            round(rng.uniform(1.0, 10.0), 1),
            rng.choice(TYPES),
            EPOCH,
            ts,
            None,
            None,
        )

    def link_id(self) -> str:
        self._next_link += 1
        return f"00000000-0000-4000-8000-{self._next_link:012d}"

    def add_film(self, rng: random.Random, ts) -> str:
        fid = _uuid(rng)
        title = self.text(rng, *SHAPE["title_words"]).capitalize()
        self.film_work[fid] = self.film_row(rng, fid, title, ts)
        genres = set()
        for _ in range(rng.randint(1, 2 * SHAPE["genre_links"] - 1)):
            genres.add(self.genre[self.genre_zipf(rng)][0])
        for g in sorted(genres):
            lid = self.link_id()
            self.genre_film_work[lid] = (lid, g, fid, ts)
        for _ in range(rng.randint(1, 2 * SHAPE["person_links"] - 1)):
            lid = self.link_id()
            pid = self.person[self.person_zipf(rng)][0]
            self.person_film_work[lid] = (lid, fid, pid, rng.choice(ROLES), ts)
        return fid

    def rows(self, table: str) -> list[tuple]:
        t = getattr(self, table)
        return list(t.values()) if isinstance(t, dict) else list(t)

    def sizes(self) -> dict[str, int]:
        return {t: len(getattr(self, t)) for t in self.TABLES}

    def digest(self) -> str:
        """sha256 over every table's rows in generation order."""
        h = hashlib.sha256()
        for t in self.TABLES:
            for r in self.rows(t):
                h.update(json.dumps(r, default=str).encode())
        return h.hexdigest()

    def query_term(self, rng: random.Random) -> str:
        return self.vocab[self.word_zipf(rng)]

    def person_with_fanout(self, films: int) -> int:
        """Index of the person linked to the number of distinct films
        closest to ``films`` (the lowest index on a tie)."""
        count = Counter(pid for fid, pid in
                        {r[1:3] for r in self.person_film_work.values()})
        return min(
            range(len(self.person)),
            key=lambda i: (abs(count[self.person[i][0]] - films), i),
        )


# ---------------------------------------------------------------------------
# per-tick edit scripts
# ---------------------------------------------------------------------------


def fresh_token(tick: int, i: int) -> str:
    """A title token no generated word can equal (the vocabulary never
    produces 'q'), unique per (tick, edit), so a match on it finds
    exactly the edited film."""
    out, n = [], tick * 1000 + i
    while True:
        out.append("abcdefghijklmnopr"[n % 17])
        n //= 17
        if not n:
            break
    return "qx" + "".join(out) + "q"


class EditBatch:
    """One tick's source edits, already applied to the in-memory
    catalog; ``changed`` names the tables whose txlog must commit."""

    def __init__(self):
        self.film_upserts: list[tuple] = []
        self.film_deletes: list[str] = []
        self.person_upserts: list[tuple] = []
        self.edited_titles: dict[str, str] = {}
        self.bridges_changed: set[str] = set()
        self.source_rows = 0

    def as_json(self) -> str:
        return json.dumps(
            {
                "film_upserts": self.film_upserts,
                "film_deletes": self.film_deletes,
                "person_upserts": self.person_upserts,
                "edited_titles": self.edited_titles,
                "bridges_changed": sorted(self.bridges_changed),
            },
            default=str,
            sort_keys=True,
        )


def edit_batch(cat: Catalog, tick: int) -> EditBatch:
    """Draw tick ``tick``'s edit batch from the seed and mutate ``cat``
    to the post-edit state. Film edits retitle a film with a fresh
    token; new films arrive with links; deletes cascade to the film's
    links; renames hit a popular person every few ticks; links are
    added and removed on both bridge tables."""
    sh = EDIT_SHAPE
    rng = rng_for(cat.seed, "tick", tick)
    ts = EPOCH + dt.timedelta(days=1 + tick)
    b = EditBatch()
    films = sorted(cat.film_work)
    picked = rng.sample(films, sh["film_edits"] + sh["film_deletes"])
    for i, fid in enumerate(picked[: sh["film_edits"]]):
        tok = fresh_token(tick, i)
        old = cat.film_work[fid]
        title = f"{old[1]} {tok}"
        row = (fid, title, *old[2:7], ts, *old[8:])
        cat.film_work[fid] = row
        b.film_upserts.append(row)
        b.edited_titles[fid] = title
    for fid in picked[sh["film_edits"]:]:
        del cat.film_work[fid]
        b.film_deletes.append(fid)
        for bridge in ("genre_film_work", "person_film_work"):
            tab = getattr(cat, bridge)
            col = 2 if bridge == "genre_film_work" else 1
            for lid in [k for k, r in tab.items() if r[col] == fid]:
                del tab[lid]
                b.bridges_changed.add(bridge)
    for _ in range(sh["new_films"]):
        fid = cat.add_film(rng, ts)
        b.film_upserts.append(cat.film_work[fid])
        b.bridges_changed.update(("genre_film_work", "person_film_work"))
    every, fanouts = sh["popular_rename_every"], sh["popular_fanouts"]
    for j in range(sh["person_renames"]):
        # every few ticks the first rename hits a popular person, the one
        # whose film count is nearest a fixed fan-out, so equal ticks of
        # two seeds re-index alike; the other renames hit the long tail
        # (a film or two each)
        if j == 0 and tick % every == 0:
            idx = cat.person_with_fanout(fanouts[(tick // every) % len(fanouts)])
        else:
            idx = rng.randrange(sh["tail_rank_from"], len(cat.person))
        pid, name, created, _ = cat.person[idx]
        row = (pid, f"{name.split()[0]} {cat.vocab[cat.word_zipf(rng)].capitalize()}",
               created, ts)
        cat.person[idx] = row
        b.person_upserts.append(row)
    films = sorted(cat.film_work)
    for _ in range(sh["genre_links_added"]):
        lid = cat.link_id()
        cat.genre_film_work[lid] = (
            lid, cat.genre[cat.genre_zipf(rng)][0], rng.choice(films), ts
        )
    for lid in rng.sample(sorted(cat.genre_film_work), sh["genre_links_removed"]):
        del cat.genre_film_work[lid]
    for _ in range(sh["person_links_added"]):
        lid = cat.link_id()
        cat.person_film_work[lid] = (
            lid, rng.choice(films), cat.person[cat.person_zipf(rng)][0],
            rng.choice(ROLES), ts,
        )
    for lid in rng.sample(sorted(cat.person_film_work), sh["person_links_removed"]):
        del cat.person_film_work[lid]
    b.bridges_changed.update(("genre_film_work", "person_film_work"))
    b.source_rows = (
        len(b.film_upserts) + len(b.film_deletes) + len(b.person_upserts)
        + sh["genre_links_added"] + sh["genre_links_removed"]
        + sh["person_links_added"] + sh["person_links_removed"]
    )
    return b


# ---------------------------------------------------------------------------
# per-client request streams
# ---------------------------------------------------------------------------

# catalog_search request kinds, issued in this fixed rotation so every
# run sees the same mix (client i starts i * len / clients places in);
# only the terms, ids and pages inside each request are drawn at random
SEARCH_CYCLE = (
    "match", "get", "bool", "list",
    "match", "get", "phrase", "detail",
)


def _terms(cat: Catalog, rng: random.Random, n: int) -> str:
    return " ".join(cat.query_term(rng) for _ in range(n))


def search_request(
    cat: Catalog, rng: random.Random, films: dict, kind: str
) -> dict:
    """One catalog_search request of ``kind`` over the catalog state
    ``films`` (film id -> film_work row): an ES body, a GET-by-id or a
    REST list/detail call."""
    live_ids = sorted(films)
    if kind == "match":
        return {"kind": "es", "body": {
            "query": {"match": {"title": _terms(cat, rng, rng.randint(1, 2))}},
            "size": 10}}
    if kind == "bool":
        lo = round(rng.uniform(2.0, 7.0), 1)
        return {"kind": "es", "body": {
            "query": {"bool": {
                "must": [{"match": {"description": _terms(cat, rng, 2)}}],
                "filter": [{"range": {"imdb_rating": {"gte": lo}}}],
                "must_not": [{"match": {"title": cat.query_term(rng)}}],
            }},
            "size": 10}}
    if kind == "phrase":
        fid = rng.choice(live_ids)
        words = films[fid][1].lower().split()
        i = rng.randrange(max(1, len(words) - 1))
        return {"kind": "es", "body": {
            "query": {"match_phrase": {"title": " ".join(words[i:i + 2])}},
            "size": 10}}
    if kind == "get":
        return {"kind": "get", "ids": [rng.choice(live_ids)]}
    if kind == "list":
        pages = max(1, len(live_ids) // 50)
        return {"kind": "list", "page": 1 + int(rng.random() ** 2 * pages)}
    fid = rng.choice(live_ids)
    start = rng.randrange(0, 28)
    return {"kind": "detail", "fragment": fid[start:start + 8]}


def fuzzy_request(cat: Catalog, rng: random.Random) -> dict:
    """The reference's headline Postman body: a one-term fuzzy
    multi_match over title and description, the term drawn by Zipf."""
    return {"kind": "es", "body": {
        "query": {"multi_match": {
            "query": cat.query_term(rng),
            "fuzziness": "AUTO",
            "fields": ["title", "description"],
        }},
        "size": 10}}


def request_stream(cat: Catalog, workload: str, client: int, clients: int):
    """Endless deterministic request stream of one of ``clients``."""
    rng = rng_for(cat.seed, workload, "client", client)
    n = len(SEARCH_CYCLE)
    i = client * n // clients
    while True:
        if workload == "catalog_fuzzy":
            yield fuzzy_request(cat, rng)
        else:
            yield search_request(cat, rng, cat.film_work, SEARCH_CYCLE[i % n])
        i += 1
