"""Seeded inputs for every workload.

Everything the engine receives is made here from one seed: pet pages and
the ``ingest_verify`` batch files, the dead-link sets of each verification
epoch, the ``serve_under_ingest`` base table, writer batches, request mix
and writer schedule. The same seed gives byte-identical inputs.

The generator also keeps the plain-Python model the correctness checks
compare against: which pages are invalid, the rows each batch commits,
and the row count of every served version. Valid pages are made so the engine's validity rules
keep them with margin (at most three missing fields of fifteen), and
invalid ones so the rules drop them, so the model never has to re-derive
the engine's filters.
"""

from __future__ import annotations

import csv
import hashlib
import io
import itertools
import random
from dataclasses import dataclass

PET_STRING_FIELDS = [
    "name", "location", "age", "gender", "size", "color", "breed",
    "about_me", "image",
]
PET_BOOL_FIELDS = [
    "spayed_neutered", "vaccinated", "special_needs",
    "kids_compatible", "dogs_compatible", "cats_compatible",
]
# PETS_SCHEMA order, plus the ingest sequence the merge orders by.
TABLE_COLUMNS = [
    "link", "pet_type", "name", "location", "age", "gender", "size",
    "color", "breed", *PET_BOOL_FIELDS, "about_me", "image", "seq",
]
SITE = "https://www.petfinder.com"

_NAMES = [
    "Rex", "Bella", "Milo", "Luna", "Max", "Daisy", "Oscar", "Coco", "Toby",
    "Nala", "Rocky", "Lola", "Buddy", "Zoe", "Leo", "Ruby", "Jack", "Maya",
    "Ollie", "Penny", "Bear", "Rosie", "Finn", "Willow", "Ziggy", "Hazel",
]
_CITIES = [
    "Austin, TX", "Denver, CO", "Portland, OR", "Boise, ID", "Tulsa, OK",
    "Fresno, CA", "Omaha, NE", "Albany, NY", "Tampa, FL", "Reno, NV",
]
_AGES = ["Baby", "Young", "Adult", "Senior"]
_GENDERS = ["Male", "Female"]
_SIZES = ["Small", "Medium", "Large", "Extra Large"]
_COLORS = ["Black", "White", "Brown", "Tabby", "Gray", "Golden", "Brindle"]
_BREEDS = [
    "Labrador Retriever", "Beagle", "Terrier Mix", "Domestic Short Hair",
    "Siamese", "Boxer", "Husky", "Maine Coon", "Poodle", "Shepherd Mix",
]
_WORDS = (
    "friendly playful calm gentle loves walks treats cuddles toys yard "
    "children quiet home energetic curious shy sweet loyal smart house "
    "trained crate leash fetch naps sunny window patient"
).split()
_TRUE_SPELLINGS = ["Yes", "✓", "yes", "True"]
_FALSE_SPELLINGS = ["No", "✗", "no", "False"]
_PLACEHOLDERS = ["Dog", "cat", " dog ", "CAT"]

# ingest_verify page shares: keys already in the table, invalid pages, and
# later pages of a key earlier in the same batch
RESEEN = 0.30
INVALID = 0.05
DUP = 0.02
# serve_under_ingest request shares: latest version, time travel (the rest
# is /pets.csv)
MIX = (0.8, 0.1)
MIX_BLOCK = 10
GOLDEN = (5**0.5 - 1) / 2


def pet_link(key: int) -> str:
    """The committed (normalized) link of pet ``key``."""
    return f"{SITE}/pet/{key}/details/"


def link_key(link: str) -> int:
    return int(link.split("/")[-3])


def clean_pet(rng: random.Random, key: int, seq: int, missing: int = 0) -> dict:
    """One valid pet as the table should hold it after cleaning.
    ``missing`` checked fields are left empty (string '' / boolean None)."""
    row = {
        "link": pet_link(key),
        "pet_type": rng.choice(("dog", "cat")),
        "name": rng.choice(_NAMES),
        "location": rng.choice(_CITIES),
        "age": rng.choice(_AGES),
        "gender": rng.choice(_GENDERS),
        "size": rng.choice(_SIZES),
        "color": rng.choice(_COLORS),
        "breed": rng.choice(_BREEDS),
        "about_me": " ".join(rng.choices(_WORDS, k=rng.randint(12, 40))),
        "image": f"https://photos.petfinder.com/{key}/{rng.randint(1, 9)}.jpg",
        "seq": seq,
    }
    for b in PET_BOOL_FIELDS:
        row[b] = rng.random() < 0.6
    for f in rng.sample(PET_STRING_FIELDS + PET_BOOL_FIELDS, missing):
        row[f] = None if f in PET_BOOL_FIELDS else ""
    return row


def page_html(rng: random.Random, row: dict) -> str:
    """The scraped page a clean row comes from, with the noise the clean
    stack removes: padding, trailing footnote stars, an ``About`` prefix on
    the name, relative links and varied boolean spellings."""

    def noisy(v: str) -> str:
        if not v:
            return rng.choice(("", "  "))
        return rng.choice(("{}", " {} ", "{} *", "{}**  ")).format(v)

    parts = [f"<link>{row['link'][len(SITE):]}</link>"]
    parts.append(f"<pet_type>{row['pet_type']}</pet_type>")
    name = row["name"]
    about = name and rng.random() < 0.5
    parts.append(f"<name>{'About ' + name if about else noisy(name)}</name>")
    for f in PET_STRING_FIELDS[1:]:
        parts.append(f"<{f}>{noisy(row[f])}</{f}>")
    for b in PET_BOOL_FIELDS:
        v = row[b]
        text = "" if v is None else rng.choice(_TRUE_SPELLINGS if v else _FALSE_SPELLINGS)
        parts.append(f"<{b}>{text}</{b}>")
    return '<html><body><div class="pet">' + "".join(parts) + "</div></body></html>"


def invalid_page(rng: random.Random, key: int, seq: int) -> str:
    """A page the validity rules must drop: blank link, placeholder name,
    or more than half of the fifteen checked fields missing."""
    kind = rng.randrange(3)
    row = clean_pet(rng, key, seq, missing=10 if kind == 2 else 0)
    if kind == 0:
        row["link"] = SITE
    elif kind == 1:
        row["name"] = rng.choice(_PLACEHOLDERS)
    return page_html(rng, row)


def csv_bytes(rows) -> int:
    """UTF-8 size of ``rows`` in the reference's storage format: one CSV
    with a header, booleans as True/False and missing values empty."""
    out = io.StringIO()
    w = csv.writer(out)
    w.writerow(TABLE_COLUMNS[:-1])
    for r in rows:
        w.writerow(["" if r[c] is None else r[c] for c in TABLE_COLUMNS[:-1]])
    return len(out.getvalue().encode())


def table_digest(rows) -> str:
    """Order-insensitive digest of rows given as dicts over TABLE_COLUMNS."""
    lines = sorted(repr(tuple(r[c] for c in TABLE_COLUMNS)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


# ---------------------------------------------------------------------------
# ingest_verify
# ---------------------------------------------------------------------------


@dataclass
class IngestPlan:
    """Base table, staged batches and verification epochs of one run."""

    base_rows: list[dict]
    batches: list[list[tuple[int, str]]]  # per batch: (seq, page html)
    # winners[i]: link -> row that batch i commits (its last valid page per key)
    winners: list[dict[str, dict]]
    dead_links: dict[int, list[str]]  # batch index -> links deleted after it

    def expected(self, batches_done: int) -> dict[str, dict]:
        """The last-write-wins table (link -> row) after the first
        ``batches_done`` batches and their epochs."""
        model = {r["link"]: r for r in self.base_rows}
        for b in range(batches_done):
            model.update(self.winners[b])
            for link in self.dead_links.get(b, ()):
                del model[link]
        return model


def ingest_plan(
    seed: int,
    base_rows: int,
    n_batches: int,
    batch_rows: int,
    epoch_every: int,
    dead_per_epoch: int,
) -> IngestPlan:
    rng = random.Random(f"ingest-{seed}")
    keys = rng.sample(range(1_000_000, 10_000_000), base_rows + n_batches * batch_rows)
    next_key = base_rows
    seq = 0
    base = []
    for k in keys[:base_rows]:
        base.append(clean_pet(rng, k, seq, missing=rng.choice((0, 0, 0, 1, 2))))
        seq += 1
    live = [r["link"] for r in base]  # links in the table, for re-seen picks
    batches, winners, dead_links = [], [], {}
    for b in range(n_batches):
        pages: list[tuple[int, str]] = []
        rows: list[dict] = []
        for _ in range(batch_rows):
            r = rng.random()
            if r < INVALID:
                pages.append((seq, invalid_page(rng, keys[next_key], seq)))
                next_key += 1
            else:
                if r < INVALID + DUP and rows:  # a later page of a key in this batch
                    key = link_key(rng.choice(rows)["link"])
                elif r < INVALID + DUP + RESEEN:
                    key = link_key(rng.choice(live))
                else:
                    key = keys[next_key]
                    next_key += 1
                    live.append(pet_link(key))
                row = clean_pet(rng, key, seq, missing=rng.choice((0, 0, 1, 3)))
                rows.append(row)
                pages.append((seq, page_html(rng, row)))
            seq += 1
        winners.append({row["link"]: row for row in rows})  # seq ascends: the last page wins
        if b % epoch_every == 0:  # batch 0 warms the epoch; then one per cycle
            dead = set(rng.sample(live, dead_per_epoch))
            dead_links[b] = sorted(dead)
            live = [x for x in live if x not in dead]
        batches.append(pages)
    return IngestPlan(base, batches, winners, dead_links)


# ---------------------------------------------------------------------------
# serve_under_ingest
# ---------------------------------------------------------------------------


@dataclass
class ServePlan:
    base_rows: list[dict]
    writer_batches: list[list[dict]]  # clean rows per writer commit
    writer_due_s: list[float]  # offsets from the start of the timed phase
    requests: list[tuple[str, float]]  # (kind, uniform draw picking a version)
    counts: list[int]  # counts[i]: live rows after i writer batches


def serve_plan(
    seed: int,
    base_rows: int,
    n_writes: int,
    write_rows: int,
    write_interval_s: float,
    n_requests: int,
) -> ServePlan:
    rng = random.Random(f"serve-{seed}")
    keys = rng.sample(range(1_000_000, 10_000_000), base_rows + n_writes * write_rows)
    base = [
        clean_pet(rng, k, i, missing=rng.choice((0, 0, 1)))
        for i, k in enumerate(keys[:base_rows])
    ]
    live = keys[:base_rows]  # keys in the table, for re-seen picks
    counts = [base_rows]
    seq, nxt = base_rows, base_rows
    batches = []
    for _ in range(n_writes):
        rows, seen = [], set()
        for _ in range(write_rows):
            key = rng.choice(live) if rng.random() < 0.3 else None
            if key is None or key in seen:
                key = keys[nxt]
                nxt += 1
                live.append(key)
            seen.add(key)
            rows.append(clean_pet(rng, key, seq))
            seq += 1
        counts.append(len(live))
        batches.append(rows)
    # One commit due in each write interval, jittered within it, so every
    # timed phase of the same length holds the same number of commits.
    due = [round((i + rng.uniform(0.3, 0.7)) * write_interval_s, 6) for i in range(n_writes)]
    # The request kinds and the versions asked for cost very different CPU
    # (a /pets.csv request sends a cached artifact; an old version is a
    # cache miss that decodes parquet), so free draws would move the cost
    # per request with the seed. Every block of MIX_BLOCK requests holds
    # the shares exactly, in a seeded order, and the version draws follow
    # a golden-ratio sequence from a seeded start, which spreads any run of
    # them evenly over [0, 1).
    block = ["latest"] * round(MIX_BLOCK * MIX[0]) + ["version"] * round(MIX_BLOCK * MIX[1])
    block += ["csv"] * (MIX_BLOCK - len(block))
    start = rng.random()
    draws = ((start + k * GOLDEN) % 1.0 for k in itertools.count())
    requests = []
    while len(requests) < n_requests:
        rng.shuffle(block)
        requests.extend((kind, next(draws) if kind == "version" else 0.0) for kind in block)
    return ServePlan(base, batches, due, requests[:n_requests], counts)
