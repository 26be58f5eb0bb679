"""Seeded input generators and the expected-state models the checks use.

Everything here is pure Python driven by one ``random.Random(seed)`` per
artifact, and every file is written with a fixed key order and fixed
separators, so the same seed gives byte-identical files.

NVD side
    ``NvdCorpus`` builds an NVD 1.1 landing directory: yearly feeds
    2002-2026 ramped like the real corpus (small early years, largest
    recent ones), a ``modified`` feed whose ids overlap yearly ids with
    newer records, a ``recent`` feed of newly published ids, and about
    1% ``** REJECT **`` rows. ``refresh_cycle`` lands a new
    ``modified``/``recent`` pair with a bumped ``.meta``: mostly updates
    to recent-year ids, some new ids, some newly rejected ids. The
    corpus keeps the last-writer-wins state the warehouse must hold.

Document side
    ``DocCorpus`` builds a documents table (``doc_id, text, lang,
    source, n_chars``) with planted near-duplicate variants and one
    boilerplate mega-cluster, plus an arrival stream for admission that
    mixes fresh docs, near-dups of corpus docs, variants of the
    mega-cluster and near-dups of a doc that arrived shortly before. It
    records which arriving docs are planted near-dups.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, replace

YEARS = tuple(range(2002, 2027))
NOW = dt.datetime(2026, 10, 1, 6, 0, 0)
REJECT_PREFIX = "** REJECT ** "
VENDORS = 400
PRODUCTS = 1200

# ---------------------------------------------------------------------------
# traffic: every dimension the workloads send, in one place
# ---------------------------------------------------------------------------
# The per-cycle change count is scaled from a measured refresh shape, a
# 500-CVE refresh into a 48k-CVE warehouse, i.e. about 1% of the
# warehouse per cycle. The other shares are assumptions of this
# benchmark, not measurements; they are chosen so that every path the
# workloads name (merge, purge, probe cap, in-batch dedup) does work in
# every cycle or batch.
N_CVES = 1000               # backfill size, ramped over the yearly feeds
REJECT_SHARE = 0.01         # withdrawn (** REJECT **) rows (assumed)
MODIFIED_SHARE = 0.02       # backfill ids whose newer copy is in `modified` (assumed)
CYCLE_UPDATES = 8           # updated ids per refresh cycle  } about 1% of
CYCLE_NEW = 2               # new ids per refresh cycle      } N_CVES
CYCLE_REJECTS = 1           # ids withdrawn per cycle, so the purge runs (assumed)
RECENT_SKEW = 0.8           # updates drawn from the last three years (assumed)

N_DOCS = 600                # dedup corpus, planted variants included
CORPUS_DUP_SHARE = 0.05     # planted near-dup variants in the corpus (assumed)
MEGA = 40                   # boilerplate mega-cluster size (assumed)
# one admission batch: fresh docs, near-dups of corpus docs, boilerplate
# variants and near-dups of a doc earlier in the same batch (assumed)
BATCH_MIX = {"fresh": 6, "corpus_dups": 2, "boilerplate": 1, "in_batch_dups": 1}
BATCH = sum(BATCH_MIX.values())


def traffic() -> dict:
    """The traffic dimensions, as a run's record reports them."""
    return {"cves": N_CVES, "reject_share": REJECT_SHARE,
            "modified_share": MODIFIED_SHARE,
            "cycle": {"updates": CYCLE_UPDATES, "new": CYCLE_NEW,
                      "rejects": CYCLE_REJECTS},
            "recent_skew": RECENT_SKEW, "corpus_docs": N_DOCS,
            "corpus_dup_share": CORPUS_DUP_SHARE, "mega_cluster": MEGA,
            "batch_docs": BATCH, "batch_mix": BATCH_MIX}


def _stamp(t: dt.datetime) -> str:
    """Feed-record timestamp, NVD 1.1 style (minute precision, 'Z')."""
    return t.strftime("%Y-%m-%dT%H:%MZ")


def _meta_stamp(t: dt.datetime) -> str:
    """``.meta`` lastModifiedDate; fixed offset so string order is time order."""
    return t.strftime("%Y-%m-%dT%H:%M:%S-04:00")


@dataclass(frozen=True)
class Cve:
    """One CVE as the warehouse must hold it after last-writer-wins."""
    cve_id: str
    published: str
    last_modified: str
    summary: str
    score: float
    vendor: int
    product: int

    @property
    def rejected(self) -> bool:
        return self.summary.startswith(REJECT_PREFIX)

    def item(self) -> dict:
        """The NVD 1.1 ``CVE_Items`` entry for this record."""
        v, p = f"vendor{self.vendor:04d}", f"product{self.product:05d}"
        n = int(self.cve_id[-4:])
        return {
            "cve": {
                "CVE_data_meta": {"ID": self.cve_id},
                "description": {"description_data": [
                    {"lang": "en", "value": self.summary}]},
                "references": {"reference_data": [
                    {"url": f"https://example.org/{v}/advisory/{n}",
                     "name": f"{v}-{n}", "refsource": "MISC",
                     "tags": ["Vendor Advisory"]}]},
            },
            "configurations": {"CVE_data_version": "4.0", "nodes": [
                {"operator": "OR", "cpe_match": [
                    {"vulnerable": True,
                     "cpe23Uri": f"cpe:2.3:a:{v}:{p}:{n % 9}.{n % 7}"
                                 ":*:*:*:*:*:*:*"},
                    {"vulnerable": False,
                     "cpe23Uri": f"cpe:2.3:a:{v}:{p}:9.9:*:*:*:*:*:*:*"}]}]},
            "impact": {"baseMetricV2": {"cvssV2": {
                "version": "2.0", "accessVector": "NETWORK",
                "accessComplexity": "LOW", "authentication": "NONE",
                "confidentialityImpact": "PARTIAL",
                "integrityImpact": "PARTIAL",
                "availabilityImpact": "PARTIAL",
                "baseScore": self.score}}},
            "publishedDate": self.published,
            "lastModifiedDate": self.last_modified,
        }


def _write_feed(landing: str, name: str, cves: list[Cve],
                meta_time: dt.datetime) -> int:
    """Write ``<name>.json`` + ``.meta``; returns the JSON byte count."""
    doc = {"CVE_data_numberOfCVEs": str(len(cves)),
           "CVE_data_timestamp": _stamp(meta_time),
           "CVE_Items": [c.item() for c in cves]}
    body = json.dumps(doc, separators=(",", ":")).encode()
    with open(os.path.join(landing, f"{name}.json"), "wb") as f:
        f.write(body)
    with open(os.path.join(landing, f"{name}.meta"), "w", newline="") as f:
        f.write(f"lastModifiedDate:{_meta_stamp(meta_time)}\r\n"
                f"size:{len(body)}\r\nzipSize:{len(body) // 8}\r\n"
                f"gzSize:{len(body) // 8}\r\nsha256:{len(body):064X}\r\n")
    return len(body)


class NvdCorpus:
    """Seeded NVD landing data plus the last-writer-wins model.

    ``state`` maps cve_id to the record the silver table must hold
    before ``purge_rejected``; ``live()`` is what it holds after.
    """

    def __init__(self, seed: int, n_cves: int):
        self.rng = random.Random(seed)
        self.n_cves = n_cves
        self.state: dict[str, Cve] = {}
        self.next_seq = {y: 0 for y in YEARS}
        self.cycle = 0
        self.input_bytes = 0
        self.feeds: dict[str, str] = {}      # feed name -> .meta stamp
        self._yearly: dict[int, list[Cve]] = {}
        self._modified: list[Cve] = []
        self._recent: list[Cve] = []
        self._build()

    # -- record factories ------------------------------------------------
    def _new_cve(self, year: int, published: dt.datetime) -> Cve:
        rng = self.rng
        seq = self.next_seq[year]
        self.next_seq[year] += 1
        cid = f"CVE-{year}-{10000 + seq:05d}"
        vendor = rng.randrange(VENDORS)
        summary = (f"Issue {seq} in vendor{vendor:04d} component allows "
                   + rng.choice(["remote code execution",
                                 "denial of service",
                                 "information disclosure",
                                 "privilege escalation"]) + ".")
        if rng.random() < REJECT_SHARE:
            summary = REJECT_PREFIX + "DO NOT USE THIS CANDIDATE NUMBER. " + summary
        modified = published + dt.timedelta(
            minutes=rng.randrange(0, 60 * 24 * 30))
        return Cve(cid, _stamp(published), _stamp(min(modified, NOW)),
                   summary, rng.randrange(0, 101) / 10.0, vendor,
                   rng.randrange(PRODUCTS))

    def _updated(self, c: Cve, at: dt.datetime, reject: bool) -> Cve:
        rng = self.rng
        summary = c.summary.split(" [rev")[0] + f" [rev {self.cycle}]"
        if reject:
            summary = REJECT_PREFIX + summary
        return Cve(c.cve_id, c.published, _stamp(at), summary,
                   rng.randrange(0, 101) / 10.0, c.vendor, c.product)

    # -- backfill landing ------------------------------------------------
    def _build(self) -> None:
        rng = self.rng
        weights = [1.13 ** (y - YEARS[0]) for y in YEARS]
        total = sum(weights)
        for y, w in zip(YEARS, weights):
            n = max(1, round(self.n_cves * w / total))
            start = dt.datetime(y, 1, 1)
            span = ((NOW if y == YEARS[-1] else dt.datetime(y + 1, 1, 1))
                    - start - dt.timedelta(days=8))
            pubs = sorted(start + dt.timedelta(
                seconds=rng.randrange(int(span.total_seconds())) // 60 * 60)
                for _ in range(n))
            self._yearly[y] = [self._new_cve(y, p) for p in pubs]
        for cves in self._yearly.values():
            for c in cves:
                self.state[c.cve_id] = c
        # modified feed: newer versions of recent-year ids; the yearly
        # feeds keep the stale version, so last-writer-wins must pick these
        recent_ids = [c.cve_id for y in YEARS[-3:] for c in self._yearly[y]
                      if not c.rejected]
        k = max(1, int(len(self.state) * MODIFIED_SHARE))
        picked = sorted(rng.sample(recent_ids, min(k, len(recent_ids))))
        self._modified = []
        for cid in picked:
            old = dt.datetime.strptime(self.state[cid].last_modified,
                                       "%Y-%m-%dT%H:%MZ")
            at = max(NOW - dt.timedelta(minutes=rng.randrange(1, 60 * 24 * 7)),
                     old + dt.timedelta(minutes=1))
            u = self._updated(self.state[cid], at,
                              rng.random() < REJECT_SHARE)
            self.state[cid] = u
            self._modified.append(u)
        # recent feed: the newest ids of the current year, identical to
        # their yearly-feed copies (overlap without a change)
        cur = self._yearly[YEARS[-1]]
        self._recent = [self.state[c.cve_id] for c in cur[-max(1, len(cur) // 20):]]

    def write_landing(self, landing: str) -> int:
        """Write the backfill landing dir; returns input JSON bytes."""
        os.makedirs(landing, exist_ok=True)
        n = 0
        for y in YEARS:
            n += self._feed(landing, f"nvdcve-1.1-{y}", self._yearly[y],
                            dt.datetime(min(y + 1, YEARS[-1]), 1, 1))
        n += self._feed(landing, "nvdcve-1.1-modified", self._modified, NOW)
        n += self._feed(landing, "nvdcve-1.1-recent", self._recent, NOW)
        self.input_bytes += n
        return n

    def _feed(self, landing: str, name: str, cves: list[Cve],
              at: dt.datetime) -> int:
        self.feeds[name] = _meta_stamp(at)
        return _write_feed(landing, name, cves, at)

    # -- refresh cycles --------------------------------------------------
    def refresh_cycle(self, landing: str, n_updates: int, n_new: int,
                      n_reject: int) -> tuple[dict, dict]:
        """Land the next ``modified``/``recent`` pair with bumped ``.meta``.

        Returns ``(mid, final)``: ``mid`` is what the silver table holds
        after the upsert and before ``purge_rejected``, ``final`` after it.
        Updated ids are drawn with recency skew: with probability
        ``RECENT_SKEW`` from the last three years, else from any year.
        """
        rng = self.rng
        self.cycle += 1
        at = NOW + dt.timedelta(hours=2 * self.cycle)
        live_recent = [cid for cid, c in self.state.items()
                       if not c.rejected and int(cid[4:8]) >= YEARS[-3]]
        live_all = [cid for cid, c in self.state.items() if not c.rejected]
        chosen: set[str] = set()
        while len(chosen) < n_updates + n_reject:
            pool = live_recent if rng.random() < RECENT_SKEW else live_all
            chosen.add(rng.choice(pool))
        chosen_l = sorted(chosen)
        rng.shuffle(chosen_l)
        rejects = set(chosen_l[:n_reject])
        modified = []
        for cid in sorted(chosen):
            u = self._updated(self.state[cid], at, cid in rejects)
            self.state[cid] = u
            modified.append(u)
        # a fresh id is never withdrawn in the cycle that publishes it
        recent = [replace(
                      c, last_modified=_stamp(at),
                      summary=c.summary.removeprefix(REJECT_PREFIX))
                  for c in (self._new_cve(YEARS[-1], at - dt.timedelta(hours=1))
                            for _ in range(n_new))]
        for c in recent:
            self.state[c.cve_id] = c
        self.input_bytes += self._feed(landing, "nvdcve-1.1-modified",
                                       modified, at)
        self.input_bytes += self._feed(landing, "nvdcve-1.1-recent", recent, at)
        changed = chosen | {c.cve_id for c in recent}
        mid = {k: c for k, c in self.state.items()
               if not c.rejected or k in changed}
        return mid, live_view(mid)

    def live(self) -> dict[str, Cve]:
        return live_view(self.state)


def live_view(state: dict[str, Cve]) -> dict[str, Cve]:
    """The state after ``purge_rejected``: withdrawn ids removed."""
    return {k: c for k, c in state.items() if not c.rejected}


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

WORDS = [f"{a}{b}" for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si", "tu",
                             "vo", "we", "xi", "yu", "za", "bo", "ce", "du")
         for b in ("n", "t", "r", "s", "l", "m", "k", "p", "d", "g", "v", "x")]
LANGS = ("en", "en", "en", "fr", "de", "es")
BOILERPLATE = ("terms of service apply to every page of this site and all "
               "content is provided as is without warranty of any kind "
               "subscribe to the newsletter for updates")


def _doc_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


def near_dup(rng: random.Random, text: str, edits: int = 2) -> str:
    """A variant sharing almost all word 3-shingles with ``text``: a few
    words replaced near the end (Jaccard well above 0.8 at 60+ words)."""
    w = text.split()
    for _ in range(edits):
        w[len(w) - 1 - rng.randrange(min(len(w), 6))] = rng.choice(WORDS)
    return " ".join(w)


class DocCorpus:
    """Seeded document corpus with planted near-duplicates.

    ``rows`` are ``(doc_id, text, lang, source)``. ``planted`` maps each
    planted variant's doc_id to its original; ``mega`` is the boilerplate
    mega-cluster (many docs sharing one long prefix).
    """

    def __init__(self, seed: int, n_docs: int):
        self.rng = rng = random.Random(seed)
        self.rows: list[tuple[int, str, str, str]] = []
        self.planted: dict[int, int] = {}
        self.next_id = 0
        n_fresh = n_docs - int(n_docs * CORPUS_DUP_SHARE) - MEGA
        for _ in range(n_fresh):
            self._add(_doc_text(rng, rng.randrange(60, 140)))
        originals = [r[0] for r in self.rows]
        for _ in range(int(n_docs * CORPUS_DUP_SHARE)):
            src = rng.choice(originals)
            self.planted[self._add(near_dup(rng, self.rows[src][1]))] = src
        self.mega = [self._add(BOILERPLATE + " " + _doc_text(rng, 4))
                     for _ in range(MEGA)]
        self.corpus_size = len(self.rows)

    def _add(self, text: str) -> int:
        did = self.next_id
        self.next_id += 1
        self.rows.append((did, text, self.rng.choice(LANGS),
                          f"src{did % 17}"))
        return did

    def arrivals(self, n_batches: int) -> tuple[list, set[int]]:
        """The next ``n_batches`` batches of docs to admit, in arrival
        order, and the ids of the planted near-dups among them.

        Each batch of ``BATCH`` docs holds ``BATCH_MIX``: fresh random
        text, near-dups of corpus docs, variants of the boilerplate
        mega-cluster and near-dups of an earlier fresh doc of the same
        batch; the batch is shuffled with each variant kept after its
        source.
        """
        rng = self.rng
        mega = set(self.mega)
        base_ids = [r[0] for r in self.rows[:self.corpus_size]
                    if r[0] not in self.planted and r[0] not in mega]
        out, dups = [], set()
        for _ in range(n_batches):
            fresh = [self._add(_doc_text(rng, rng.randrange(60, 140)))
                     for _ in range(BATCH_MIX["fresh"])]
            ids = list(fresh)
            for _ in range(BATCH_MIX["corpus_dups"]):
                ids.append(self._add(near_dup(
                    rng, self.rows[rng.choice(base_ids)][1])))
            for _ in range(BATCH_MIX["boilerplate"]):
                ids.append(self._add(near_dup(
                    rng, self.rows[rng.choice(self.mega)][1], edits=1)))
            dups.update(ids[len(fresh):])
            rng.shuffle(ids)
            for _ in range(BATCH_MIX["in_batch_dups"]):
                src = rng.choice(fresh)
                did = self._add(near_dup(rng, self.rows[src][1]))
                ids.insert(rng.randrange(ids.index(src) + 1, len(ids) + 1), did)
                dups.add(did)
            out += [self.rows[i] for i in ids]
        return out, dups


def write_documents(path: str, rows: list[tuple[int, str, str, str]]) -> int:
    """Write a ``documents.parquet`` file; returns the text byte count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows]),
        "lang": pa.array([r[2] for r in rows]),
        "source": pa.array([r[3] for r in rows]),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return sum(len(r[1].encode()) for r in rows)
