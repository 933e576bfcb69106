"""Seeded inputs, timed operations and output checks of each workload.

Inputs are generated from the seed during set-up and written to parquet;
the timed operation reads only those files. Every page carries exactly one
mention: an address page holds one address span, and a prose page has none,
so its whole text becomes its mention.

The seed sets the page URLs, the landmark tokens of ``ingest-mixed`` and
the words and suffixes of the prose pages. Counts pinned in ``expect``
apply only at ``DEFAULT_SEED`` and full size; the quality checks
(F1 = B³ = blocking recall = 1.0) apply at every seed.
"""

from __future__ import annotations

import dataclasses
import os
import random
from collections import Counter
from dataclasses import dataclass, field

DEFAULT_SEED = 0

# the word list of the sf0.1 prose documents: no digit, no address
# keyword, no hyphen, so the address-likelihood gate skips these pages
PROSE_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# letters-only tokens are spelled with consonants that open no place name
# of the gazetteer, so a token can neither hit a vocabulary join nor a
# fuzzy area prefix
TOKEN_LETTERS = "qxzvkj"

INPUT_FILES = 4


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "link": LinkagePlan stages + entity write; "ingest": link_batch
    address_pages: int
    prose_pages: int
    landmarks: bool
    why: str
    expect: dict = field(default_factory=dict)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "recrawl-small", "link", address_pages=2_160, prose_pages=500,
            landmarks=False,
            why="re-crawled address pages (8 per entity) plus prose: a full "
                "link bound by the s1 job chain, with few battery rows",
            expect={"mentions": 2_660, "unique_mentions": 1_256,
                    "candidate_pairs": 20_925, "entities": 752},
        ),
        Workload(
            "ingest-mixed", "ingest", address_pages=1_080, prose_pages=1_000,
            landmarks=True,
            why="every page a distinct mention (landmarked address pages plus "
                "prose) committed by IncrementalLinker.link_batch into fresh "
                "state: more battery and gate rows, plus state writes",
            expect={"nodes": 2_080, "entities": 1_252},
        ),
    )
}

SMOKE_SIZES = {"address_pages": 270, "prose_pages": 40}


def smoke_sized(w: Workload) -> Workload:
    """``w`` at a very small size, with no pinned counts."""
    return dataclasses.replace(w, expect={}, **SMOKE_SIZES)


def letters(n: int, width: int) -> str:
    """``n`` in base len(TOKEN_LETTERS), spelled with TOKEN_LETTERS."""
    base = len(TOKEN_LETTERS)
    out = []
    for _ in range(width):
        n, r = divmod(n, base)
        out.append(TOKEN_LETTERS[r])
    return "".join(reversed(out))


def prose_rows(seed: int, n: int) -> list[tuple[str, str, str]]:
    """``n`` distinct prose pages ``(url, text, truth)``. A page's own
    URL is its truth id: prose pages are singleton entities."""
    rng = random.Random(seed)
    tag = letters(rng.randrange(len(TOKEN_LETTERS) ** 3), 3)
    rows = []
    for i in range(n):
        words = rng.choices(PROSE_VOCAB, k=rng.randint(10, 100))
        # the suffix makes every page distinct, so none collapses at the
        # norm_key dedup
        text = " ".join(words) + f" x{tag}{letters(i, 7)}"
        url = f"doc://s{seed}/{i}"
        rows.append((url, text, url))
    return rows


@dataclass
class Inputs:
    pages: str
    truth: dict[str, str]
    n_pages: int


_BN_DIGITS = str.maketrans("0123456789", "০১২৩৪৫৬৭৮৯")


def address_rows(seed: int, n_pages: int, n_entities: int = 270,
                 landmarks: bool = False) -> list[tuple[int, str, str, str, str]]:
    """Address pages ``(page_id, url, text, lang, truth)``.

    The text of page ``p`` is exactly ``sources.pages.synth_pages``' text
    (entity ``p % n_entities``, surface variant ``p // n_entities % 4``),
    so the generator's separability argument and truth ids carry over;
    ``--smoke`` compares the two. Generating in Python keeps Spark jobs
    out of set-up. With ``landmarks`` a distinct letters-only landmark
    (a seeded prefix plus the page id) joins the address span, so no two
    pages share a mention while their components stay those of the
    entity.
    """
    from ai_bangladesh_address_parser_spark.sources.pages import _MISSPELL, SYNTH_AREAS

    rng = random.Random(seed)
    n_areas = len(SYNTH_AREAS)
    rows = []
    for p in range(n_pages):
        e, v = p % n_entities, p // n_entities % 4
        ai, s = e % n_areas, e // n_areas
        area, district, postal = SYNTH_AREAS[ai]
        house = str(((s + ai) % 9 + 1) * 11)
        road = str((s + ai // 9) % 9 + 1)
        if v == 0:
            addr = f"House {house}, Road {road}, {area}, {district}-{postal}"
        elif v == 1:
            addr = f"H-{house}, R-{road}, {area}, {district} {postal}"
        elif v == 2:
            bn_district = "ঢাকা" if district == "Dhaka" else district
            addr = (f"বাড়ি {house.translate(_BN_DIGITS)}, রোড {road.translate(_BN_DIGITS)}, "
                    f"{area}, {bn_district}-{postal.translate(_BN_DIGITS)}")
        else:
            addr = f"House No {house}, Road No {road}, {_MISSPELL.get(area, area)}, {district}"
        if landmarks:
            addr += f", opp {letters(rng.randrange(36), 2)}{letters(p, 6)} market"
        text = f"Contact page {p}. Office address: {addr}. Phone 01{p % 100_000_000:09d}."
        url = f"https://s{rng.randrange(997)}.example.com/r{seed}/page/{p}"
        truth = f"e{ai + n_areas * (s % 9)}"
        rows.append((p, url, text, "bn" if v == 2 else "en", truth))
    return rows


def write_inputs(w: Workload, seed: int, work: str) -> Inputs:
    """Generate the workload's pages from ``seed``; write them to parquet."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    addr = address_rows(seed, w.address_pages, landmarks=w.landmarks)
    prose = prose_rows(seed, w.prose_pages)
    t0 = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc)
    url = [r[1] for r in addr] + [r[0] for r in prose]
    text = [r[2] for r in addr] + [r[1] for r in prose]
    table = pa.table({
        "url": url,
        "warc_ts": pa.array([t0 + datetime.timedelta(seconds=r[0]) for r in addr]
                            + [t0] * len(prose), pa.timestamp("us", tz="UTC")),
        "html": pa.array([f"<html><body>{t}</body></html>".encode() for t in text],
                         pa.binary()),
        "text": text,
        "lang": [r[3] for r in addr] + ["en"] * len(prose),
    })
    path = os.path.join(work, "pages")
    os.makedirs(path)
    # a fixed file count, so the scan's parallelism is the same on any host
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i}.parquet"))
    truth = {r[1]: r[4] for r in addr}
    truth.update((u, t) for u, _text, t in prose)
    return Inputs(path, truth, len(url))


# -- scoring ---------------------------------------------------------------

def cluster_scores(pred: dict[str, str], truth: dict[str, str]) -> tuple[float, float]:
    """(pairwise F1, B³ F1) of predicted entity ids against truth ids."""
    cells = Counter((pred[u], truth[u]) for u in truth)
    n_pred = Counter()
    n_true = Counter()
    for (c, t), n in cells.items():
        n_pred[c] += n
        n_true[t] += n

    def pairs(counts):
        return sum(n * (n - 1) / 2 for n in counts.values())

    tp, pp, tt = pairs(cells), pairs(n_pred), pairs(n_true)
    p = tp / pp if pp else 1.0
    r = tp / tt if tt else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    total = sum(cells.values())
    bp = sum(n * n / n_pred[c] for (c, _t), n in cells.items()) / total
    br = sum(n * n / n_true[t] for (_c, t), n in cells.items()) / total
    b3 = 2 * bp * br / (bp + br) if bp + br else 0.0
    return f1, b3


def blocking_recall(pairs: list[tuple[str, str]], node_truth: dict[str, str]) -> float:
    """Share of truth-co-referent node pairs that blocking proposed."""
    sizes = Counter(node_truth.values())
    total = sum(n * (n - 1) / 2 for n in sizes.values())
    found = sum(1 for a, b in pairs if node_truth[a] == node_truth[b])
    return found / total if total else 1.0


def check(w: Workload, seed: int, full_size: bool, facts: dict) -> list[str]:
    """Names of the failed checks over one operation's ``facts``."""
    failed = [k for k in ("pairwise_f1", "bcubed_f1", "blocking_recall")
              if k in facts and facts[k] != 1.0]
    if facts.get("mentions", facts.get("pages")) != facts["pages"]:
        failed.append("mentions")
    if seed == DEFAULT_SEED and full_size:
        failed += [k for k, v in w.expect.items() if facts.get(k) != v]
    return failed


def compare_with_synth_pages(spark, n_pages: int = 1_080) -> None:
    """Raise unless ``address_rows`` renders ``synth_pages``' texts and
    truth classes (URLs aside)."""
    from ai_bangladesh_address_parser_spark.sources.pages import synth_pages

    pages, truth = synth_pages(spark, n_pages=n_pages, n_entities=270)
    ref = {r["url"].rsplit("/", 1)[1]: (r["text"], r["truth_entity_id"])
           for r in pages.join(truth, "url").collect()}
    for p, _url, text, _lang, t in address_rows(DEFAULT_SEED, n_pages):
        if ref[str(p)] != (text, int(t[1:])):
            raise AssertionError(f"page {p}: {ref[str(p)]} != {(text, t)}")
