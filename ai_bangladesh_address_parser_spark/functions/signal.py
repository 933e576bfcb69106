"""Address-likelihood gate — the cheap pre-filter in front of the deep
extraction battery.

At Common-Crawl composition ~99% of pages carry no address at all, yet
the S1 fallback (`plans.pipeline.harvest_mentions_expr`) deliberately
keeps every page so nothing is dropped silently. Without a gate those
pure-prose pages flow through the T4/T5/T6 pandas-UDF battery and the
minhash banding — real Python and shuffle cost for rows that can only
produce empty components.

The gate is ONE whole-stage-codegen `rlike` over the lowercased text.
A mention passes if it shows ANY cheap evidence an extractor could act
on:

  * a digit (ASCII or Bangla) — every house/postal/flat/floor tier and
    the FSM parse anchor on digits;
  * an address keyword (house/road/flat/thana/… incl. Bangla forms) —
    the anchor set of the keyword tiers;
  * a gazetteer vocabulary hit — any district spelling variant (English
    or Bangla, `data.gazetteer.DISTRICT_VARIANTS`), curated area name /
    spelling variant, or curated upazila/union/village name not already
    substring-covered by those (the anchor set of the vocab-join and
    geo stages — `_geo_closure_terms` recomputes the uncovered set from
    the dims at import, so dim regeneration cannot silently open a
    gap);
  * a word starting with the 4-char prefix of any area or district
    variant (3-char for short area names) — the candidate key the
    fuzzy-area back-extraction stage joins on
    (`operators.extract.fuzzy_area_evidence`), so misspellings like
    "gulshen" that fuzzy recovery would resolve still pass.

Soundness contract (exact, and pinned by the gate pytests): every
evidence family of the DEFAULT_STAGES pipeline anchors on one of the
classes above —

  * regex/FSM/house-road tiers: digit- or keyword-anchored;
  * the one surface-dictionary join (`operators.extract.token_hits`:
    the district, area, division, upazila and union surfaces of
    `data.gazetteer.surface_df`): the exact surface must appear in the
    text. Every surface contains a district variant, a curated seed
    name, or itself — all in the pattern (asserted over every
    dictionary variant by
    ``test_gate.py::test_dim_names_are_covered``);
  * fuzzy-area back-extraction: candidate tokens share a 4-char (3 for
    short) prefix with an area — the anchored prefix alternation;
  * second-pass stages (position-area, unknown-value correction,
    gazetteer enrich, geo fills): refine evidence that already exists,
    so their mentions passed on the first-pass anchor.

Known residual — disclosed, not hidden: the fuzzy-DISTRICT branch
(`vocab_evidence`, edit-distance-1 recovery on the final comma-part)
can match a token whose FIRST four characters are corrupted
("zhaka, …"), which no prefix alternation can cover; covering single
middle-edits of short names exactly would need ~3k-branch ED-1 regex
alternations (or 4-char suffix substrings like "gram"/"haka" that
false-pass most English prose). A text is affected only if that typo
is its SOLE signal: comma-structured, no digit anywhere, no keyword,
no vocab surface, no area/district prefix. Callers that need exactness
over cost run ``LinkagePlan(gate=False)``; the gate-equivalence pytest
runs both and pins everything except this documented class.

The reference has no analogue (it is handed addresses, not web pages);
the gate exists for the north rule's 10^12-page corpus, where it makes
S1+S2 cost scale with the number of address-bearing pages rather than
the page count. Skipped-row counts ride the pipeline's metrics
(`LinkagePlan.metrics()["s1_gate"]`).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..data import gazetteer as gz

# Keyword anchors of the extraction tiers (operators/extract.py regex
# battery + operators/house_road.py): any of these present means a
# keyword-anchored extractor could fire.
_KEYWORDS = [
    "house", "holding", "building", "bldg", "plot", "flat", "apartment",
    "apt", "road", "rd.", "street", "lane", "avenue", "block", "sector",
    "floor", "lift", "level", "thana", "post office", "p.o", "ward",
    "bazar", "bazaar", "market", "city", "town",
    # Bangla forms (the battery's Bangla tiers)
    "বাড়ি", "বাসা", "হোল্ডিং", "প্লট", "ফ্ল্যাট", "রোড", "সড়ক", "রাস্তা",
    "গলি", "ব্লক", "সেক্টর", "তলা", "লিফট", "থানা", "ডাকঘর", "এলাকা",
]


def _vocab_terms() -> list[str]:
    """Lowercased gazetteer surface the vocab/fuzzy stages anchor on.

    District variants already include all 64 English names, the Bangla
    spellings and the common misspellings; curated areas + seed
    variants cover the labeled area vocabulary. The generated dim rows
    (dims.AREAS density filler) are district-name-prefixed by
    construction, so the district alternatives subsume them.
    """
    vocab = {v for v, _ in gz.DISTRICT_VARIANTS}
    vocab |= {a.lower() for a, _, _ in gz.CURATED_AREAS}
    vocab |= {v for v, _ in gz._AREA_VARIANT_SEEDS}
    return sorted(vocab, key=len, reverse=True)


def _geo_closure_terms(vocab: list[str]) -> list[str]:
    """Geo dim names (upazila/union/village) with NO existing vocab term
    as a substring — the curated seed names ("Savar", "Trishal", …).
    Generated filler rows embed their district name and toy-derived
    unions/villages embed their upazila name, so the closure stays a
    ~20-term list; recomputing it here (rather than hand-listing) keeps
    the gate sound under any future dim regeneration.
    """
    from ..data import dims

    added: list[str] = []
    for rows in (dims.UPAZILAS, dims.UNIONS, dims.VILLAGES):
        for name, *_ in rows:
            ln = name.lower()
            if not (any(v in ln for v in vocab) or any(v in ln for v in added)):
                added.append(ln)
    return added


def _fuzzy_prefix_terms() -> tuple[list[str], list[str]]:
    """Prefix keys of the fuzzy stages: the area prefixes the fuzzy-area
    stages join on (``gazetteer.area_prefix_rows``) plus
    4-char district-variant prefixes (the intact-prefix portion of the
    edit-distance-1 district recovery space). ASCII prefixes are
    word-start anchored (``\\b``) — fuzzy candidates are tokens, and the
    anchor keeps "dhak" from matching inside e.g. "sandhakara"; Bangla
    prefixes ride as plain substrings (Java's ``\\b`` is ASCII-word
    without UNICODE_CHARACTER_CLASS, so anchoring would disable them).
    """
    pfx = {p for p, *_ in gz.area_prefix_rows()}
    pfx |= {v[:4] for v, _ in gz.DISTRICT_VARIANTS if len(v) >= 4}
    bounded = sorted(p for p in pfx if p[:1].isascii())
    plain = sorted(p for p in pfx if not p[:1].isascii())
    return bounded, plain


def _trie_regex(words: list[str]) -> str:
    """Prefix-factored regex matching exactly the union of ``words``.

    A flat 800-literal alternation makes Java's regex engine attempt
    every branch at every text position (measured ~4.6 s per gate scan
    of 5.7k mentions); trie factoring shares common prefixes so each
    position dispatches on at most one branch per distinct next char —
    same language, ~an order of magnitude cheaper to run.
    """
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}  # word-end marker

    def emit(node: dict) -> str:
        if set(node) == {""}:
            return ""
        alts, done = [], False
        for ch, sub in sorted(node.items()):
            if ch == "":
                done = True
            else:
                alts.append(re.escape(ch) + emit(sub))
        if len(alts) == 1 and not done:
            return alts[0]
        return "(?:" + "|".join(alts) + ")" + ("?" if done else "")

    return emit(trie)


def _build_pattern() -> str:
    vocab = _vocab_terms()
    subs = set(_KEYWORDS) | set(vocab) | set(_geo_closure_terms(vocab))
    bounded, plain = _fuzzy_prefix_terms()
    subs |= set(plain)
    # subs is seeded from _KEYWORDS and must never be empty: an empty
    # trie emits '(?:)' which matches everywhere and would silently
    # turn the gate into pass-everything
    assert subs, "gate substring vocabulary is empty"
    # digit class first: most address-bearing text exits on it at the
    # first digit position, long before the alternation is tried
    pat = "[0-9০-৯]|" + _trie_regex(sorted(subs))
    # the \b-anchored arm only when there are ASCII prefixes to anchor:
    # '\b(?:)' would match at any word boundary (gate-defeating)
    if bounded:
        pat += r"|\b" + _trie_regex(bounded)
    return pat


SIGNAL_PATTERN = _build_pattern()


def address_signal_expr(text_col: str) -> Column:
    """Boolean Column: True iff the text shows any cheap address signal.

    Pure codegen (`lower` + `rlike` with a foldable pattern) — no
    Python, no join, no shuffle; safe to evaluate inline in the scan
    projection of a 10^12-row table.
    """
    return F.lower(F.col(text_col)).rlike(SIGNAL_PATTERN)
