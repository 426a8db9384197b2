"""Deterministic, seeded ADS update-event generator.

Bibcodes start with the publication year, so their sort order follows
time. Payloads follow the payload shapes the pipeline parses
(``schemas.PAYLOAD_SCHEMAS``) with a realistic size spread: most papers
have a handful of authors and a few KB of fulltext, a tail has hundreds
of authors and tens of KB. Every update of a payload type changes a
field that reaches the search document, so "content changed" on the
record level means "document changed".

The generator keeps only what it needs to draw the next batch (which
keys are live and their current payloads, for redeliveries). Output
checks never read this state: they replay the written event files.
"""

from __future__ import annotations

import datetime as dt
import json
import random

PAYLOAD_TYPES = ("bib_data", "nonbib_data", "orcid_claims", "fulltext",
                 "metrics", "augments", "classifications", "boost_factors")
# types an update picks, with weights (metadata and nonbib churn most)
UPDATE_WEIGHTS = (("bib_data", 4), ("nonbib_data", 4), ("metrics", 3),
                  ("orcid_claims", 2), ("fulltext", 2), ("augments", 2),
                  ("classifications", 1), ("boost_factors", 2))
JOURNALS = ("ApJ..", "A&A..", "MNRAS", "AJ...", "PhRvD", "Icar.", "SoPh.",
            "arXiv", "JGRA.", "ApJS.")
# bib database values and classification names are disjoint, so a new
# classification set always changes the document's `database` field
DATABASES = (["astronomy"], ["astronomy", "physics"])
COLLECTIONS = ("astrophysics", "heliophysics", "planetary",
               "earthscience", "general")
EPOCH = dt.datetime(2031, 1, 1)


SYLLABLES = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"] + list("aeiou")


class EventGen:
    """Draws event batches. ``base_batch`` makes new bibcodes with every
    payload type (bootstrap and preload); ``tick_batch`` makes one cron
    batch with the update / redelivery / insert / delete mix of
    ``params["tick_mix"]``."""

    def __init__(self, seed: int, params: dict):
        self.rng = random.Random(seed)
        self.p = params
        self.words = [self._word() for _ in range(4000)]
        self.live: list[str] = []           # sorted == time order
        self.current: dict[str, dict[str, str]] = {}
        self.taken: set[str] = set()
        self.clock_ms = 0
        self.n_ticks = 0

    # -- primitives ------------------------------------------------------
    def _word(self) -> str:
        return "".join(self.rng.choice(SYLLABLES)
                       for _ in range(self.rng.randint(1, 4)))

    def _text(self, n: int) -> str:
        return " ".join(self.rng.choice(self.words) for _ in range(n))

    def _name(self) -> str:
        return (f"{self._word().capitalize()}, "
                f"{self.rng.choice('ABCDEFGHJKLMNPRSTW')}.")

    def _bibcode(self, year: int) -> str:
        while True:
            b = (f"{year}{self.rng.choice(JOURNALS)}"
                 f"{self.rng.randint(1, 999):.>4}"
                 f"{self.rng.choice('..L')}"
                 f"{self.rng.randint(1, 9999):.>4}"
                 f"{self.rng.choice('ABCDEFGHJKLMNPRSTW')}")
            if b not in self.taken:
                self.taken.add(b)
                return b

    def _ts(self) -> str:
        self.clock_ms += self.rng.randint(1, 40)
        t = EPOCH + dt.timedelta(milliseconds=self.clock_ms)
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"

    def _n_authors(self) -> int:
        return min(1500, int(self.rng.lognormvariate(1.2, 1.3)) + 1)

    # -- payloads --------------------------------------------------------
    def payload(self, bib: str, typ: str) -> str:
        r = self.rng
        year = bib[:4]
        if typ == "bib_data":
            n = self._n_authors()
            authors = [self._name() for _ in range(n)]
            doi = f"10.{r.randint(1000, 9999)}/{self._word()}.{r.randint(1, 99999)}"
            link = json.dumps({"url": f"https://arxiv.org/abs/{r.randint(1000, 9999)}.{r.randint(10000, 99999)}",
                               "access": r.choice(("open", "closed")),
                               "title": "", "type": "preprint",
                               "instances": ""})
            p = {"bibcode": bib, "title": [self._text(r.randint(6, 18))],
                 "abstract": self._text(r.randint(80, 260)),
                 "author": authors, "author_norm": authors,
                 "author_count": n, "first_author": authors[0],
                 "first_author_norm": authors[0],
                 "aff": [f"{self._text(3)} Institute" for _ in range(n)],
                 "pub": f"The {self._word().capitalize()} Journal",
                 "pub_raw": f"{self._word().capitalize()} J., vol. {r.randint(1, 999)}",
                 "pubdate": f"{year}-{r.randint(1, 12):02d}-00", "year": year,
                 "volume": str(r.randint(1, 999)),
                 "page": [str(r.randint(1, 9999))], "doctype": "article",
                 "database": list(r.choice(DATABASES)),
                 "bibstem": [bib[4:9].rstrip(".")],
                 "bibgroup": [r.choice(("CfA", "ESO", "NASA", "HST"))],
                 "identifier": [bib, doi],
                 "alternate_bibcode": [], "links_data": [link],
                 "email": [f"{self._word()}@example.org"]}
        elif typ == "nonbib_data":
            reads = [r.randint(0, 300) for _ in range(r.randint(1, 12))]
            p = {"bibcode": bib, "boost": round(r.random(), 6),
                 "norm_cites": r.randint(0, 5000),
                 "citation_count": r.randint(0, 5000),
                 "readers": [f"{r.getrandbits(40):x}" for _ in range(r.randint(0, 30))],
                 "reference": [self._bibcode_ref() for _ in range(r.randint(0, 60))],
                 "data": [f"{r.choice(('CXO', 'HST', 'SIMBAD', 'NED'))}:{r.randint(1, 9)}"],
                 "property": ["ARTICLE", r.choice(("REFEREED", "NOT REFEREED"))],
                 "esource": ["PUB_HTML"], "reads": reads, "downloads": reads,
                 "simbad_objects": [f"{r.randint(1, 10**6)} {r.choice(('G', 'Star', '*', 'QSO'))}"],
                 "grants": [f"NASA {r.randint(10**5, 10**6)}"],
                 "uat": [f"{self._word()}/{self._word()}/{r.randint(1, 3000)}"]}
        elif typ == "orcid_claims":
            p = {"bibcode": bib,
                 "verified": [f"0000-000{r.randint(1, 9)}-{r.randint(1000, 9999)}-{r.randint(1000, 9999)}"
                              for _ in range(r.randint(1, 4))],
                 "unverified": ["-"] * r.randint(0, 3)}
        elif typ == "fulltext":
            p = {"body": self._text(min(12000, int(r.lognormvariate(6.3, 0.8)))),
                 "acknowledgements": self._text(r.randint(10, 40)),
                 "dataset": [], "facility": [r.choice(("HST", "ALMA", "JWST", "VLT"))]}
        elif typ == "metrics":
            cites = [self._bibcode_ref() for _ in range(r.randint(1, 40))]
            p = {"bibcode": bib, "refereed": r.random() < 0.7,
                 "citations": cites, "citation_num": len(cites),
                 "author_num": r.randint(1, 50),
                 "reads": [r.randint(0, 99) for _ in range(5)],
                 "an_citations": round(r.random() * 9, 6)}
        elif typ == "augments":
            k = r.randint(1, 6)
            p = {"aff": [f"{self._text(2)} University" for _ in range(k)],
                 "aff_raw": [f"{self._text(3)} Dept" for _ in range(k)],
                 "aff_abbrev": [self._word().upper() for _ in range(k)],
                 "aff_id": [f"A{r.randint(10000, 99999)}" for _ in range(k)],
                 "institution": [self._word().capitalize() for _ in range(k)]}
        elif typ == "classifications":
            old = self.current.get(bib, {}).get(typ)
            while True:
                p = sorted(r.sample(COLLECTIONS, r.randint(1, 3)))
                if json.dumps(p) != old:
                    break
        else:
            p = {k: round(r.random() * 2, 6) for k in (
                "doctype_boost", "refereed_boost", "recency_boost",
                "boost_factor", "astronomy_final_boost",
                "physics_final_boost", "general_final_boost")}
        return json.dumps(p)

    def _bibcode_ref(self) -> str:
        r = self.rng
        return (f"{r.randint(1950, 2024)}{r.choice(JOURNALS)}"
                f"{r.randint(1, 999):.>4}.{r.randint(1, 9999):.>4}"
                f"{r.choice('ABCDEFGHJKLMNPRSTW')}")

    # -- events ----------------------------------------------------------
    def _update(self, out: list, bib: str, types: list[str]) -> None:
        """One event per type; with ``multi_version_share`` one of the
        types gets two or three successive versions in this batch."""
        again = (self.rng.choice(types)
                 if self.rng.random() < self.p["multi_version_share"]
                 else None)
        for typ in types:
            for _ in range(self.rng.randint(2, 3) if typ == again else 1):
                pl = self.payload(bib, typ)
                self.current.setdefault(bib, {})[typ] = pl
                out.append({"bibcode": bib, "type": typ, "status": "active",
                            "payload": pl, "event_ts": self._ts()})

    def _new_record(self, out: list, bib: str) -> None:
        types = list(PAYLOAD_TYPES)
        if self.rng.random() < self.p["incomplete_share"]:
            types.remove(self.rng.choice(("orcid_claims", "nonbib_data")))
        self._update(out, bib, types)

    def _shuffled(self, events: list) -> list:
        # arrival order differs from event time: the fold must use event_ts
        self.rng.shuffle(events)
        return events

    def base_batch(self, n: int) -> list[dict]:
        """``n`` new bibcodes spread over 1995-2024, every payload type
        (minus one for the incomplete share)."""
        out: list[dict] = []
        bibs = sorted(self._bibcode(1995 + (i * 30) // n) for i in range(n))
        for bib in bibs:
            self._new_record(out, bib)
        self.live = sorted(set(self.live) | set(bibs))
        return self._shuffled(out)

    def _recent_index(self, n: int) -> int:
        return n - 1 - int(n * self.rng.random() ** self.p["recency_skew"])

    def tick_batch(self) -> list[dict]:
        """One cron batch of ``tick_keys`` distinct keys."""
        self.n_ticks += 1
        self.clock_ms += 3_600_000          # ticks are an hour apart
        k = self.p["tick_keys"]
        mix = self.p["tick_mix"]
        n_upd, n_red, n_ins = (round(k * mix[m]) for m in
                               ("update", "redeliver", "insert"))
        n_del = k - n_upd - n_red - n_ins
        chosen: set[str] = set()

        def pick(m: int, skewed: bool) -> list[str]:
            got: list[str] = []
            while len(got) < m:
                i = (self._recent_index(len(self.live)) if skewed
                     else self.rng.randrange(len(self.live)))
                b = self.live[i]
                if b not in chosen:
                    chosen.add(b)
                    got.append(b)
            return got

        out: list[dict] = []
        types, weights = zip(*UPDATE_WEIGHTS)
        for bib in pick(n_upd, True):
            self._update(out, bib, sorted(set(self.rng.choices(
                types, weights, k=self.rng.randint(1, 2)))))
        for bib in pick(n_red, True):
            # bib_data and augments are not redelivered: which of the two
            # arrived last decides the document's `aff` (transform T14), so
            # re-sending one unchanged can still change the document
            cur = self.current[bib]
            kinds = sorted(set(cur) - {"bib_data", "augments"})
            for typ in self.rng.sample(kinds, min(2, len(kinds))):
                out.append({"bibcode": bib, "type": typ, "status": "active",
                            "payload": cur[typ], "event_ts": self._ts()})
        for bib in pick(n_del, False):
            out.append({"bibcode": bib, "type": "bib_data",
                        "status": "deleted", "payload": None,
                        "event_ts": self._ts()})
            del self.current[bib]
        dead = {e["bibcode"] for e in out if e["status"] == "deleted"}
        year = 2025 + self.n_ticks // 24
        fresh = [self._bibcode(year) for _ in range(n_ins)]
        for bib in fresh:
            self._new_record(out, bib)
        self.live = sorted((set(self.live) - dead) | set(fresh))
        return self._shuffled(out)


def write_events(path: str, events: list[dict]) -> None:
    """One JSON object per line, the ``EVENT_SCHEMA`` the pipeline reads."""
    with open(path, "w", encoding="utf-8") as f:
        for e in events:
            f.write(json.dumps(e, sort_keys=True))
            f.write("\n")
