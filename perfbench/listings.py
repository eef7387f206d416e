"""Seeded bronze RES-listing generator with planted ground truth.

Emits all-string bronze rows shaped like the MLS export the consumer
reads: one dict per message, keys from ``schemas.CLASS_COLUMNS["RES"]``
plus ``INGEST_SEQ`` (the re-scrape order that keep-last dedup sorts on).
Columns the generator leaves out arrive as null, as sparse exports do.

Planted properties, each counted into the ground truth the benchmark
checks the pipeline against:

- re-scrape duplicates: a listing emitted 2-3 times with rising
  ``INGEST_SEQ`` and a changing price; the last one must win;
- label phrases: ``BANK OWNED`` and ``Short Sale`` in public remarks,
  ``... Holdings LLC`` sellers;
- ``00/00/0000 00:00:00`` sentinel dates in non-key date columns;
- garbage lot sizes (``IRREGULAR``, ``See Remarks``) that clean to 0;
- ``(dddd)*`` town-code suffixes and ``*`` in street names, which
  cleaning strips, so a key only matches after cleaning;
- relisted listings on increment days: new MLS numbers whose public
  remarks copy a live listing's remarks word for word, so near-dup
  dedup drops them;
- truncated stream messages, which the consumer must quarantine.

All filler vocabulary avoids every label pattern, so a label fires only
where it was planted.  Everything derives from ``random.Random(seed)``:
the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

ID_COL = "MLSNUM"  # names one listing: withdrawals and the stream check
PRICE_COL = "LISTPRICE"  # the price the ground truth sums

SENTINEL = "00/00/0000 00:00:00"
RELISTED_PER_DAY = 2  # new listings per day that copy live remarks
MALFORMED_EVERY = 37  # every n-th stream message is cut in half


def bronze_schema():
    """All-string Spark schema of the rows emitted."""
    from gsmls_analysis_spark import schemas
    from pyspark.sql import types as T

    return T.StructType(schemas.bronze_schema("RES").fields
                        + [T.StructField("INGEST_SEQ", T.StringType())])


_STREETS = ["Maple", "Oak", "Cedar", "Elm", "Birch", "Walnut", "Chestnut",
            "Spruce", "Willow", "Ash", "Poplar", "Sycamore", "Magnolia",
            "Hickory", "Laurel", "Juniper", "Aspen", "Alder", "Cypress",
            "Beech", "Locust", "Linden", "Hemlock", "Dogwood", "Redwood"]
_SUFFIXES = ["Ave", "St", "Rd", "Dr", "Ln", "Way", "Pl", "Ter"]
_TOWNS = [("Newark", "0714"), ("Montclair", "0713"), ("Summit", "0718"),
          ("Westfield", "2020"), ("Hoboken", "0905"), ("Morristown", "1424"),
          ("Princeton", "1114"), ("Red Bank", "1340"), ("Madison", "1417"),
          ("Ridgewood", "0251"), ("Cranford", "2005"), ("Maplewood", "0719")]
_COUNTIES = ["Essex", "Union", "Morris", "Hudson", "Mercer", "Bergen"]
# owner names: none contains ll+c, inc, corp, group, builders, ...
_FIRST = ["Anna", "Brian", "Carla", "Derek", "Elena", "Frank", "Grace",
          "Hugo", "Irene", "James", "Karen", "Louis", "Maria", "Nora",
          "Oscar", "Paula", "Quinn", "Rosa", "Simon", "Tara"]
_LAST = ["Adams", "Baker", "Cohen", "Diaz", "Evans", "Foster", "Garcia",
         "Hayes", "Ito", "Jones", "Kumar", "Lopez", "Moore", "Nash",
         "Ortiz", "Patel", "Reyes", "Stone", "Turner", "Young"]
# remark words: 8,400 two- and three-syllable words, so token trigrams
# rarely repeat across listings; none spells a label phrase
_SYL = ["ba", "ro", "ki", "mu", "te", "lo", "va", "ne", "di", "so", "pa",
        "fe", "gu", "ha", "ji", "zo", "re", "wi", "ya", "po"]
_VOCAB = ([a + b for a in _SYL for b in _SYL]
          + [a + b + c for a in _SYL for b in _SYL for c in _SYL])
_STYLES = ["Colonial", "CapeCod", "Ranch", "SplitLev", "Victorn", "Contemp"]
_DATE_FIELDS = ("PENDINGDATE", "ANTICCLOSEDDATE", "CLOSEDDATE", "EXPIREDATE")


def _date(rng: random.Random, y0: int, y1: int) -> str:
    return (f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/"
            f"{rng.randint(y0, y1)} 00:00:00")


@dataclass
class Listing:
    """One listing as the generator models it (pre-bronze)."""

    ident: str
    fields: dict  # stable bronze fields (address, remarks, ...)
    price: int
    status: str
    planted: frozenset = frozenset()  # label names planted in this listing


@dataclass
class DayTruth:
    updates: int = 0
    inserts: int = 0  # new listings that reach the table
    relisted: int = 0  # new listings near-dup dedup must drop
    withdrawals: int = 0
    rows_after: int = 0  # current-state rows at the end of the day
    price_after: int = 0  # and their price sum

    @property
    def feed_inserts(self) -> int:
        return self.updates + self.inserts

    @property
    def feed_deletes(self) -> int:
        return self.updates + self.withdrawals


@dataclass
class BatchData:
    """Bronze rows for day 0 and each increment day, plus the answers the
    pipeline must reproduce."""

    day0: list[dict]
    days: list[list[dict]]
    withdrawals: list[list[str]]  # ids withdrawn per day
    distinct_keys: int  # after day 0
    labels: dict[str, int]  # planted label counts after day 0
    price_sum: int  # after day 0
    day_truth: list[DayTruth]


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seq = 0
        self.serial = 0
        self.used_addr: set = set()

    def new_listing(self, remarks: str | None = None) -> Listing:
        rng = self.rng
        self.serial += 1
        while True:
            addr = (str(rng.randint(1, 9999)),
                    f"{rng.choice(_STREETS)} {rng.choice(_SUFFIXES)}",
                    rng.randrange(len(_TOWNS)))
            if addr not in self.used_addr:
                self.used_addr.add(addr)
                break
        num, street, town_i = addr
        town, code = _TOWNS[town_i]
        ident = f"R{3000000 + self.serial}"
        planted = set()
        if remarks is None:
            remarks = " ".join(rng.choices(_VOCAB, k=rng.randint(12, 24)))
            roll = rng.random()
            if roll < 0.06:
                remarks += " BANK OWNED"
                planted.add("bank_owned")
            elif roll < 0.12:
                remarks += " Short Sale"
                planted.add("short_sale")
        owner = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
        if rng.random() < 0.12:
            owner = f"{rng.choice(_LAST)} Holdings LLC"
            planted.add("investment")
        f = {
            "MLSNUM": ident, "STREETNUMDISPLAY": num,
            "STREETNAME": street + ("*" if rng.random() < 0.2 else ""),
            "TOWN": f"{town} ({code})*" if rng.random() < 0.3 else town,
            "COUNTY": rng.choice(_COUNTIES), "ZIPCODE": f"0{rng.randint(7000, 8999)}",
            "TOWNCODE": code, "COUNTYCODE": f"{rng.randint(1, 21):02d}",
            "BLOCKID": str(rng.randint(1, 900)), "LOTID": str(rng.randint(1, 90)),
            "LISTDATE": _date(rng, 2019, 2023),
            "REMARKSPUBLIC": remarks,
            "REMARKSAGENT": " ".join(rng.choices(_VOCAB, k=5)),
            "BEDS": str(rng.randint(1, 6)), "BATHSFULLTOTAL": str(rng.randint(1, 4)),
            "YEARBUILT": str(rng.randint(1900, 2020)),
            "OWNERNAME": owner,
            "STYLEPRIMARY_SHORT": rng.choice(_STYLES),
            "SQFTAPPROX": str(rng.randint(700, 5000)),
        }
        for d in _DATE_FIELDS:
            f[d] = SENTINEL if rng.random() < 0.35 else _date(rng, 2019, 2024)
        roll = rng.random()
        if roll < 0.1:
            f["LOTSIZE"] = rng.choice(["IRREGULAR", "See Remarks"])
            planted.add("lot_zero")
        elif roll < 0.55:
            f["LOTSIZE"] = f"{rng.randint(25, 200)}X{rng.randint(50, 400)}"
        elif roll < 0.8:
            f["LOTSIZE"] = f"{rng.randint(1000, 90000)} SF"
        else:
            f["LOTSIZE"] = f"{rng.randint(5, 500) / 100:.2f}"
        return Listing(ident, f, rng.randint(150, 2000) * 1000, "A", frozenset(planted))

    def bronze(self, lst: Listing) -> dict:
        self.seq += 1
        return {**lst.fields,
                "LISTPRICE": str(lst.price), "ORIGLISTPRICE": str(lst.price),
                "STATUS_SHORT": lst.status,
                "DAYSONMARKET": str(self.rng.randint(1, 200)),
                "INGEST_SEQ": f"{self.seq:09d}"}


def _reprice(rng: random.Random, lst: Listing) -> None:
    lst.price = max(5000, lst.price + rng.choice([-3, -2, -1, 1, 2]) * 5000)
    lst.status = rng.choice(["A", "UC", "S"])


LABELS = ("bank_owned", "short_sale", "investment", "lot_zero")


def generate_batch(
    seed: int, size: int, days: int, changes: tuple[int, int, int]
) -> BatchData:
    """Day 0 holds ``size`` listings, ~20 % of them re-scraped 1-2 extra
    times.  Each increment day carries ``changes`` = (updates, new
    listings, withdrawals); ``RELISTED_PER_DAY`` of the new listings copy
    a live listing's remarks."""
    g = _Gen(seed)
    rng = g.rng
    alive: dict[str, Listing] = {}
    day0: list[dict] = []
    for _ in range(size):
        lst = g.new_listing()
        alive[lst.ident] = lst
        for _ in range(rng.choice([0] * 8 + [1, 2])):
            day0.append(g.bronze(lst))  # stale scrape, superseded below
            _reprice(rng, lst)
        day0.append(g.bronze(lst))
    rng.shuffle(day0)
    labels = {k: sum(1 for x in alive.values() if k in x.planted) for k in LABELS}
    distinct, price0 = len(alive), sum(x.price for x in alive.values())

    n_upd, n_new, n_wd = changes
    day_rows: list[list[dict]] = []
    withdrawn: list[list[str]] = []
    truth: list[DayTruth] = []
    for _ in range(days):
        ids = sorted(alive)
        picked = rng.sample(ids, n_upd + n_wd)
        upd, wd = picked[:n_upd], picked[n_upd:]
        rows: list[dict] = []
        for i in upd:
            _reprice(rng, alive[i])
            rows.append(g.bronze(alive[i]))
        tr = DayTruth(updates=n_upd, withdrawals=n_wd)
        fresh: list[Listing] = []
        for k in range(n_new):
            if k < RELISTED_PER_DAY:
                # the copied listing must stay in the corpus the near-dup
                # check reads: not updated, not withdrawn today
                src = alive[rng.choice([i for i in ids if i not in picked])]
                lst = g.new_listing(src.fields["REMARKSPUBLIC"])
                tr.relisted += 1
            else:
                lst = g.new_listing()
                fresh.append(lst)
                tr.inserts += 1
            rows.append(g.bronze(lst))
        for i in wd:
            del alive[i]
        for lst in fresh:
            alive[lst.ident] = lst
        tr.rows_after = len(alive)
        tr.price_after = sum(x.price for x in alive.values())
        rng.shuffle(rows)
        day_rows.append(rows)
        withdrawn.append(sorted(wd))
        truth.append(tr)

    return BatchData(day0=day0, days=day_rows, withdrawals=withdrawn,
                     distinct_keys=distinct, labels=labels, price_sum=price0,
                     day_truth=truth)


@dataclass
class StreamData:
    """Message files for the open-loop stream: ``files[k]`` is the
    JSON-lines payload of file k (one message per line), ``ids[k]`` the
    ids of its valid messages and ``malformed[k]`` the number of
    malformed ones."""

    seed: int
    files: list[bytes]
    ids: list[list[str]]
    malformed: list[int]


def generate_stream(seed: int, n_files: int, rows_per_file: int) -> StreamData:
    """Row-per-message JSON lines, as ``kafka_sink`` emits them
    (``to_json(struct(*))``).  Every ``MALFORMED_EVERY``-th message is
    cut in half, so it no longer parses and the consumer must quarantine
    it."""
    g = _Gen(seed)
    data = StreamData(seed=seed, files=[], ids=[], malformed=[])
    k = 0
    for _ in range(n_files):
        lines, good, n_bad = [], [], 0
        for _ in range(rows_per_file):
            k += 1
            lst = g.new_listing()
            line = json.dumps(g.bronze(lst), separators=(",", ":"))
            if k % MALFORMED_EVERY == 0:
                line = line[: len(line) // 2]
                n_bad += 1
            else:
                good.append(lst.ident)
            lines.append(line)
        data.files.append(("\n".join(lines) + "\n").encode())
        data.ids.append(good)
        data.malformed.append(n_bad)
    return data


def to_json_lines(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()
