"""T10: optional NER evidence stage (reference Stage 5) as
Arrow-batched ``mapInPandas`` with a per-partition-resident model.

The reference runs a spaCy pipeline (src/core/stages/spacy_ner.py:
49-108): 18 label variants → 9 components, first occurrence per
component wins, fixed confidence 0.85. spaCy is not installed in this
container, so the model hook is pluggable:

  * ``model="heuristic"`` (default) — a deterministic, dependency-free
    stand-in: keyword-window rules emitting the same (component, value)
    shape the spaCy stage produces. The Spark plumbing (iterator-form
    mapInPandas, per-partition init, evidence long-format output,
    threshold filter) is identical to what a real model would use.
  * ``model="perceptron"`` — a LEARNED backend: an averaged-perceptron
    BIO tagger trained offline on the reference's own public span data
    (``data/training/spacy_training_data.json``, 1,281 examples) by
    ``tools/train_ner.py``; weights ship in the package and load once
    per executor process. Held-out span F1 is reported in
    BENCH_HISTORY.md and pinned in ``tests/test_ner_learned.py``.
  * ``model="spacy"`` — loads the real pipeline inside the iterator if
    spaCy + a model path are available; raises ImportError otherwise
    (gated, never at executor runtime).

The stage is OPTIONAL (stage_config semantics): the shipped confidence
thresholds (≥0.85) make its evidence marginal, mirroring the reference
default-off profiles.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .extract import EVIDENCE_SCHEMA

NER_CONFIDENCE = 0.85

_LABEL_TO_COMPONENT = {
    "HOUSE": "house_number", "ROAD": "road", "AREA": "area",
    "DISTRICT": "district", "POSTAL": "postal_code", "FLAT": "flat_number",
    "FLOOR": "floor_number", "BLOCK": "block_number",
}

_HEURISTIC_RULES = [
    ("HOUSE", re.compile(r"(?i)\bhouse\s+(?:no\s+)?([\w/]+)")),
    ("ROAD", re.compile(r"(?i)\broad\s+(?:no\s+)?([\w/]+)")),
    ("POSTAL", re.compile(r"\b(\d{4})\b")),
    ("FLAT", re.compile(r"(?i)\bflat\s+([\w-]+)")),
    ("BLOCK", re.compile(r"(?i)\bblock\s+(\w+)")),
]


def _heuristic_model():
    """Per-partition 'model': returns list[(label, value)] per text.

    POSTAL carries the same >50%-position rule as the FSM tier
    (fsm_parser.py:53-58) — without it a leading house number like
    ``1216 ...`` emits postal evidence at 0.85, which outweighs the
    regex tier in Stage-8 voting and flips the resolved value."""
    def predict(text: str) -> list[tuple[str, str]]:
        text = text or ""
        out = []
        for label, pat in _HEURISTIC_RULES:
            m = pat.search(text)
            if m and (label != "POSTAL" or m.end() > len(text) * 0.5):
                out.append((label, m.group(1)))
        return out
    return predict


def _spacy_model(model_path: str):
    import spacy  # gated import: raises here, on the driver, if absent

    nlp = spacy.load(model_path)

    def predict(text: str) -> list[tuple[str, str]]:
        return [(ent.label_, ent.text) for ent in nlp(text or "")]
    return predict


def ner_evidence(
    mentions: DataFrame,
    id_col: str = "mention_id",
    text_col: str = "normalized",
    model: str = "heuristic",
    model_path: str | None = None,
) -> DataFrame:
    """→ evidence long format (mention_id, component, value,
    confidence=0.85, source='spacy_ner'); first hit per component wins
    (reference first-occurrence rule)."""
    if model == "spacy":
        # fail fast on the driver WITHOUT loading the model (spacy.load
        # is hundreds of MB + seconds, and the pipeline is re-loaded
        # inside each executor iterator anyway — validating here only
        # needs the package and the path to exist)
        import importlib.util
        import os

        if importlib.util.find_spec("spacy") is None:
            raise ModuleNotFoundError("spacy is not installed")
        p = model_path or ""
        # fail fast on the driver for anything that is neither an
        # existing path nor an importable package — a bare single
        # segment like "mymodel" is otherwise only discovered to be a
        # missing directory inside executor tasks
        if p and not os.path.exists(p):
            if os.sep in p:
                raise FileNotFoundError(f"spaCy model path not found: {p!r}")
            try:
                resolvable = importlib.util.find_spec(p) is not None
            except (ImportError, ValueError):
                resolvable = False
            if not resolvable:
                raise FileNotFoundError(
                    f"spaCy model {p!r} is neither an existing path nor an installed package"
                )
    elif model == "perceptron":
        import os

        from .ner_perceptron import WEIGHTS_PATH

        p = model_path or WEIGHTS_PATH
        if not os.path.exists(p):
            raise FileNotFoundError(f"perceptron weights not found: {p!r}")
    elif model != "heuristic":
        raise ValueError(f"unknown ner model {model!r}")

    def _perceptron_model(path: str | None):
        from .ner_perceptron import shared_model

        # path-keyed process cache — explicit model paths must not
        # re-gunzip the weight blob once per Spark task
        return shared_model(path).spans

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if model == "spacy":
            predict = _spacy_model(model_path or "")
        elif model == "perceptron":
            predict = _perceptron_model(model_path)
        else:
            predict = _heuristic_model()
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf[id_col], pdf[text_col]):
                seen: set[str] = set()
                for label, value in predict(text):
                    comp = _LABEL_TO_COMPONENT.get(label)
                    if comp and comp not in seen and value:
                        seen.add(comp)
                        rows.append((mid, comp, value, NER_CONFIDENCE, "spacy_ner"))
            yield pd.DataFrame(
                rows, columns=["mention_id", "component", "value", "confidence", "source"]
            )

    return mentions.select(id_col, text_col).mapInPandas(run, schema=EVIDENCE_SCHEMA)
