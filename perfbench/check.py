"""Correctness gate: every doc a timed run extracts is checked here, after
the timer stops. A doc counts as failed when any check on it fails.

* ``extracted_text`` is byte-identical to the generator's oracle text, and
  each input url comes back exactly once.
* Field rows: one per (doc, non-ignored configured field), and one
  doc-confidence row per doc.
* On the ``sql-stub`` paths a seeded sample of docs is value-exact (1e-9)
  against the rule-for-rule reference in ``tests/ref_rules.py``, fed the
  same front-end word structs the unit tests feed it.
"""

from __future__ import annotations

import math
import random
from collections import Counter

import ref_rules
from amazon_textract_transformer_pipeline_spark.config import (
    DEMO_CONFIG,
    field_config_rows,
)
from amazon_textract_transformer_pipeline_spark.operators.frontend import (
    pages_to_struct,
    parse_html,
)

CFG_ROWS = field_config_rows(DEMO_CONFIG)
ENTITY_CLASSES = {c["ClassId"]: c["Name"] for c in CFG_ROWS if not c["Ignore"]}
FIELD_NAMES = frozenset(ENTITY_CLASSES.values())
REL_TOL, ABS_TOL = 1e-9, 1e-12


def close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def reference_doc(url: str, html: str) -> dict:
    """``consolidate_ref`` output for one doc under the sql-stub model."""
    words = []
    for pg in pages_to_struct(url, parse_html(html.encode("utf-8"))):
        for pos, w in enumerate(pg["words"]):
            words.append({
                "page_num": pg["page_num"], "line_id": w["line_id"],
                "text": w["text"], "conf": w["conf"], "word_id": w["id"],
                "box": w["box"],
                "pred_cls": ref_rules.stub_cls(url, pg["page_num"], pos),
                "pcc": ref_rules.stub_conf(url, pg["page_num"], pos),
            })
    entities = ref_rules.extract_entities_ref(words, ENTITY_CLASSES)
    return ref_rules.consolidate_ref(entities, CFG_ROWS)


def sample_urls(oracle: dict, k: int, seed: int) -> list[str]:
    urls = sorted(oracle)
    return random.Random(seed).sample(urls, min(k, len(urls)))


def text_failures(oracle: dict, urls: list, texts: list) -> set[str]:
    """Docs whose text is wrong, missing or duplicated; urls the input
    never had are reported too."""
    seen = Counter(urls)
    bad = {u for u, n in seen.items() if n != 1 or u not in oracle}
    bad |= {u for u in oracle if u not in seen}
    bad |= {u for u, t in zip(urls, texts) if u in oracle and t != oracle[u][0]}
    return bad


def field_failures(oracle: dict, field_rows: list[dict],
                   conf_urls: list) -> set[str]:
    names: dict[str, list] = {}
    for r in field_rows:
        names.setdefault(r["url"], []).append(r["FieldName"])
    bad = {u for u, ns in names.items()
           if len(ns) != len(FIELD_NAMES) or set(ns) != FIELD_NAMES}
    bad |= {u for u in oracle if u not in names}
    seen = Counter(conf_urls)
    bad |= {u for u in oracle if seen.get(u) != 1}
    return bad | {u for u in seen if u not in oracle}


def fields_match_reference(expected: dict, rows: list[dict],
                           doc_conf) -> bool:
    by_name = {r["FieldName"]: r for r in rows}
    if not close(doc_conf, expected["Confidence"]):
        return False
    for name, ef in expected["Fields"].items():
        a = by_name.get(name)
        if a is None or a["ClassId"] != ef["ClassId"] \
                or a["NumDetections"] != ef["NumDetections"] \
                or a["NumDetectedValues"] != ef["NumDetectedValues"] \
                or a["SortOrder"] != ef["SortOrder"] \
                or not close(a["Confidence"], ef["Confidence"]):
            return False
        if "Value" in ef and a["Value"] != ef["Value"]:
            return False
        if "Values" in ef:
            got = a["Values"] or []
            if [v["Value"] for v in got] != [v["Value"] for v in ef["Values"]]:
                return False
            if not all(close(g["Confidence"], e["Confidence"])
                       for g, e in zip(got, ef["Values"])):
                return False
    return True
