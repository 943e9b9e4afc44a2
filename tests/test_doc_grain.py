"""Doc-grain extraction: mentions, fields and doc confidence as one
per-document expression, checked against the rule-for-rule Python oracle
(ref_rules.py), plus the plan shape and edge cases of the sql-stub path."""

from __future__ import annotations

import math
import random
from itertools import accumulate

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import ref_rules
from amazon_textract_transformer_pipeline_spark.config import (
    DEMO_CONFIG,
    field_config_rows,
)
from amazon_textract_transformer_pipeline_spark.operators.assembly import assemble_text
from amazon_textract_transformer_pipeline_spark.operators.consolidate import (
    doc_confidence_sql,
    fields_sql,
)
from amazon_textract_transformer_pipeline_spark.operators.entities import mentions_sql
from amazon_textract_transformer_pipeline_spark.plans.pipeline import extract_pipeline
from amazon_textract_transformer_pipeline_spark.schemas import (
    DOC_WORDS_SCHEMA,
    PAGES_INPUT_SCHEMA,
)
from amazon_textract_transformer_pipeline_spark.sources.synthetic import make_page_row

WORD_TYPE = ("struct<page_num:int,line_id:int,text:string,conf:double,"
             "word_id:string,box:struct<left:double,top:double,width:double,"
             "height:double>,pred_cls:int,pcc:double>")

#: every selector, multi-value, Ignore (class 3) and Optional; classes 7 and
#: NULL are unconfigured ("other")
MIXED_CONFIG = [
    {"ClassId": 0, "Name": "First", "Select": "first"},
    {"ClassId": 1, "Name": "Conf", "Optional": True, "Select": "confidence"},
    {"ClassId": 2, "Name": "Multi"},
    {"ClassId": 3, "Name": "Ignored", "Ignore": True},
    {"ClassId": 4, "Name": "Long", "Select": "longest"},
    {"ClassId": 5, "Name": "Short", "Optional": True, "Select": "shortest"},
    {"ClassId": 6, "Name": "Last", "Select": "last"},
]
#: all Optional: a doc with no detections has a NULL doc confidence
OPTIONAL_CONFIG = [
    {"ClassId": 0, "Name": "A", "Optional": True, "Select": "first"},
    {"ClassId": 2, "Name": "M", "Optional": True},
]


def _word(i, page, line, text, conf, cls, pcc, box=(0.1, 0.1, 0.1, 0.1)):
    return {"page_num": page, "line_id": line, "text": text, "conf": conf,
            "word_id": f"id{i}", "pred_cls": cls, "pcc": pcc,
            "box": dict(zip(("left", "top", "width", "height"), box))}


@st.composite
def doc_words(draw):
    """Reading-ordered words; runs cross line and page breaks, texts and
    confidences repeat (noisy-OR groups, selector ties), and a word with
    no model confidence can bring a mention to 1.0."""
    n = draw(st.integers(0, 24))
    page, line, words = 1, 0, []
    for i in range(n):
        brk = draw(st.sampled_from(("", "", "", "line", "page"))) if i else ""
        if brk == "line":
            line += 1
        elif brk == "page":
            page, line = page + 1, 0
        pcc = draw(st.one_of(st.none(), st.sampled_from((0.5, 0.75, 0.9))))
        conf = draw(st.sampled_from((0.25, 0.5, 1.0) if pcc is None
                                    else (0.25, 0.5, 1.0, 99.0)))
        box = tuple(draw(st.floats(0.0, 0.5)) for _ in range(4))
        words.append(_word(i, page, line, draw(st.sampled_from(("a", "b", "cc", "dd"))),
                           conf, draw(st.sampled_from((0, 1, 2, 3, 4, 5, 6, 7, None))),
                           pcc, box))
    return words


def _ref_words(words):
    # the reference reads a missing model confidence as 1.0
    return [{k: v for k, v in w.items() if not (k == "pcc" and v is None)}
            for w in words]


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def _check_docs(spark, docs, config):
    rows = field_config_rows(config)
    active = [r for r in rows if not r["Ignore"]]
    classes = {r["ClassId"]: r["Name"] for r in active}
    df = spark.createDataFrame([(f"u{i}", d) for i, d in enumerate(docs)],
                               f"url string, words array<{WORD_TYPE}>")
    ms = mentions_sql("words", active)
    fs = fields_sql(ms, active)
    got = {r.url: r for r in df.select(
        "url", F.expr(ms).alias("m"), F.expr(fs).alias("fields"),
        F.expr(doc_confidence_sql(fs)).alias("d")).collect()}
    for i, words in enumerate(docs):
        r = got[f"u{i}"]
        exp_m = ref_rules.extract_entities_ref(_ref_words(words), classes)
        act_m = sorted(r.m, key=lambda m: m.run_id)
        assert len(act_m) == len(exp_m), words
        # run ids count class changes, the first word's included unless
        # it is "other"
        cls = [w["pred_cls"] if w["pred_cls"] in classes else None for w in words]
        run_of = list(accumulate(
            int(c != (cls[j - 1] if j else None)) for j, c in enumerate(cls)))
        seen: dict[int, int] = {}
        for a, e in zip(act_m, exp_m):
            assert a.run_id == run_of[int(e["Blocks"][0][2:])]
            assert (a.ClassId, a.ClassName, a.Text, a.PageNum, list(a.Blocks)) == (
                e["ClassId"], e["ClassName"], e["Text"], e["PageNum"], e["Blocks"])
            assert a.RawText is None
            assert _close(a.Confidence, e["Confidence"])
            for k in ("left", "top", "width", "height"):
                assert _close(a.BoundingBox[k], e["BoundingBox"][k])
            assert a.ixe == seen.get(a.ClassId, 0)
            seen[a.ClassId] = a.ixe + 1
        exp = ref_rules.consolidate_ref(exp_m, rows)
        assert [f.FieldName for f in r.fields] == list(exp["Fields"])
        for a in r.fields:
            ef = exp["Fields"][a.FieldName]
            assert (a.ClassId, a.SortOrder, a.NumDetections, a.NumDetectedValues) == (
                ef["ClassId"], ef["SortOrder"], ef["NumDetections"],
                ef["NumDetectedValues"])
            assert _close(a.Confidence, ef["Confidence"])
            assert a.Value == ef.get("Value")
            if "Values" in ef:
                got_v = [(v.Value, v.Confidence) for v in a.Values or []]
                assert [v for v, _ in got_v] == [v["Value"] for v in ef["Values"]]
                assert all(_close(c, v["Confidence"])
                           for (_, c), v in zip(got_v, ef["Values"]))
        assert _close(r.d.Confidence, exp["Confidence"])
        assert r.d.needs_human_review == (exp["Confidence"] is None
                                          or exp["Confidence"] < 0.5)


@given(st.lists(doc_words(), min_size=1, max_size=6),
       st.sampled_from((MIXED_CONFIG, OPTIONAL_CONFIG)))
@settings(max_examples=30, deadline=None)
def test_doc_grain_matches_reference(spark, docs, config):
    _check_docs(spark, docs, config)


def test_doc_grain_edge_docs(spark):
    other = [_word(i, 1, 0, "x", 90.0, 7, 0.9) for i in range(3)]
    single = [_word(0, 1, 0, "a", 90.0, 0, 0.9)]
    # a class-0 run over a line and a page break, flushed on page 3 by a
    # class-2 run that is itself trailing and dropped
    flush = [_word(0, 1, 0, "a", 90.0, 0, 0.9), _word(1, 1, 1, "b", 90.0, 0, 0.8),
             _word(2, 2, 0, "c", 90.0, 0, 0.7), _word(3, 3, 0, "d", 90.0, 2, 0.9),
             _word(4, 3, 0, "e", 90.0, 2, 0.9)]
    # repeated texts (noisy-OR), a detection at confidence 1.0 and tied
    # selector keys
    repeats = [_word(i, 1, 0, t, c, k, None)
               for i, (t, c, k) in enumerate([
                   ("a", 0.5, 1), ("x", 0.5, 7), ("a", 0.5, 1), ("x", 0.5, 7),
                   ("b", 1.0, 1), ("x", 0.5, 7), ("cc", 0.5, 4), ("x", 0.5, 7),
                   ("dd", 0.5, 4), ("x", 0.5, 7)])]
    for config in (MIXED_CONFIG, OPTIONAL_CONFIG):
        _check_docs(spark, [[], single, other, flush, repeats], config)


def test_confidence_above_one_clamps(spark):
    """A detection above 1.0 (no model confidence, OCR scale) makes its
    value's noisy-OR 1.0 before normalization, as the Spark operator has
    always done; the reference's unclamped product would exceed 1."""
    words = [_word(0, 1, 0, "a", 99.0, 2, None), _word(1, 1, 0, "b", 99.0, 7, None)]
    active = [r for r in field_config_rows(MIXED_CONFIG) if not r["Ignore"]]
    df = spark.createDataFrame([("u", words)], f"url string, words array<{WORD_TYPE}>")
    fields = df.select(F.expr(fields_sql(
        mentions_sql("words", active), active)).alias("f")).collect()[0].f
    multi = next(f for f in fields if f.FieldName == "Multi")
    assert [(v.Value, v.Confidence) for v in multi.Values] == [("a", 1.0)]


def test_sql_stub_plan_has_no_exchange(spark, pages_df):
    res = extract_pipeline(pages_df, model="sql-stub")
    try:
        for df in (res.fields, res.doc_confidences, res.extracted_text,
                   res.docs, res.mentions):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
    finally:
        res.unpersist()


def test_empty_null_and_duplicate_url_rows(spark):
    """Each input row extracts on its own: NULL and empty html give a doc
    with every field empty, and two rows sharing a url give two docs."""
    a, b = make_page_row(1), make_page_row(2)
    dup = dict(b, url=a["url"])
    blank = [dict(a, url="u-null", html=None, text=""),
             dict(a, url="u-empty", html=b"", text="")]

    def extract(rows):
        res = extract_pipeline(spark.createDataFrame(rows, PAGES_INPUT_SCHEMA),
                               model="sql-stub")
        try:
            return (sorted(map(repr, res.docs.collect())),
                    sorted(map(repr, res.fields.collect())),
                    res.mentions.count())
        finally:
            res.unpersist()

    docs, fields, _ = extract([a, dup])
    assert len(docs) == 2 and len(fields) == 22
    alone = [extract([r]) for r in (a, dup)]
    assert docs == sorted(alone[0][0] + alone[1][0])
    assert fields == sorted(alone[0][1] + alone[1][1])

    res = extract_pipeline(spark.createDataFrame(blank, PAGES_INPUT_SCHEMA),
                           model="sql-stub")
    try:
        assert res.mentions.count() == 0
        exp = ref_rules.consolidate_ref([], field_config_rows(DEMO_CONFIG))
        for d in res.docs.collect():
            assert (d.n_pages, d.extracted_text) == (0, "")
            assert d.Confidence == exp["Confidence"] and d.needs_human_review
        fields = res.fields.collect()
        assert len(fields) == 2 * len(exp["Fields"])
        for f in fields:
            ef = exp["Fields"][f.FieldName]
            assert (f.NumDetections, f.NumDetectedValues, f.Values,
                    f.Confidence) == (0, 0, None, 0.0)
            assert f.Value == ef.get("Value")
    finally:
        res.unpersist()


def test_long_page_text_is_linear_and_exact(spark):
    """A 20k+-word single page with mixed line lengths: the page text and a
    mention spanning all but its last word are byte-identical to Python's
    join."""
    rng = random.Random(11)
    lines, n = [], 0
    while n < 20000:
        k = rng.choice((1, 2, 7, 40, 300))
        lines.append([f"w{n + j}" for j in range(k)])
        n += k
    lines.append(["flush"])
    flat = [(ln, t) for ln, line in enumerate(lines) for t in line]
    box = {"left": 0.1, "top": 0.1, "width": 0.1, "height": 0.1}
    page = [{"page_num": 1, "words": [
        {"text": t, "conf": 90.0, "id": f"id{i}", "line_id": ln, "box": box}
        for i, (ln, t) in enumerate(flat)]}]
    doc = spark.createDataFrame([("u", 1, page)], DOC_WORDS_SCHEMA)
    text = assemble_text(doc).collect()[0].extracted_text
    assert text == "\n".join(" ".join(line) for line in lines)

    words = [_word(i, 1, ln, t, 90.0, 0 if i < len(flat) - 1 else 2, 0.9)
             for i, (ln, t) in enumerate(flat)]
    active = [r for r in field_config_rows(MIXED_CONFIG) if not r["Ignore"]]
    ms = spark.createDataFrame([("u", words)], f"url string, words array<{WORD_TYPE}>") \
        .select(F.inline(F.expr(mentions_sql("words", active)))).collect()
    assert len(ms) == 1
    assert ms[0].Text == "\n".join(" ".join(line) for line in lines[:-1])
    assert len(ms[0].Blocks) == len(flat) - 1
