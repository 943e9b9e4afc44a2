"""Field consolidation E7-E13 (SURVEY §2.8) as per-document expressions.

``fn-postprocess/main.py:84-180`` consolidates one document's detections at a
time; here that is SQL higher-order functions over the document's mention
array (:func:`fields_sql`, :func:`doc_confidence_sql`), so on the doc-grain
path (``plans.pipeline``) fields and doc confidence are projections of the
front-end row — no shuffle, no Python. Values are grouped by sorting the
field's mentions on (text, ixe) and cutting where the text changes: cost is
O(m log m) in a document's mentions, with no fold over a growing
accumulator.

Semantics (pinned against the reference, quirks included):

* Values = mentions of a field grouped by **exact text** (main.py:90-101),
  tracking first/last detection index (``ixe``, doc order within field).
* Value confidence = noisy-OR ``1 − ∏(1 − conf_i)`` (main.py:103-111),
  computed as ``1 − exp(Σ log1p(−conf_i))`` and clamped to 1.0 once any
  ``conf_i ≥ 1.0``; then sum-normalized by ``max(1.0, Σ)`` across the
  field's values (main.py:113-115).
* Single-valued fields pick a winner by the configured selector
  (util/config.py:23-28); Python's ``sorted`` is stable, so ties keep
  dict-insertion order = first-detection order → ``array_min`` over
  (key, ix_first) reproduces it exactly. Missing value → ``""`` with
  confidence 0.0 (main.py:145-147).
* Multi-valued fields pass all values sorted by confidence desc (same
  stable tie-break); field confidence = mean value confidence
  (main.py:148-171), 0.0 when empty. ``Values`` lists every field's values,
  and is NULL when the field has none.
* Every non-ignored configured field appears in the result even with zero
  detections (main.py:85,117-126); SortOrder = position among non-ignored
  configs.
* Doc confidence = min over fields excluding zero-confidence Optional ones
  (main.py:173-179). Divergence: when *all* fields are excluded the
  reference raises ValueError on min(); we emit NULL.

Sums run in a fixed order (log-sums in ixe order, normalization totals in
text order); the reference's order can differ in the last ulp, so tests
compare at 1e-9.

:func:`value_consolidation`, :func:`consolidate_fields` and
:func:`doc_confidence` are the row-relation entry points: each nests its
input by url (one exchange) and applies the same expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import active_fields, config_sql
from .entities import let

# E10 primary sort key per FieldSelectionMethods (config.py:23-28); ties
# break by ix_first asc (Python stable-sort reproduction).
_SELECTOR_KEY = """CASE f.Select
    WHEN 'confidence' THEN -v.value_conf
    WHEN 'first' THEN cast(v.ix_first as double)
    WHEN 'last' THEN -cast(v.ix_last as double)
    WHEN 'longest' THEN -cast(length(v.Text) as double)
    WHEN 'shortest' THEN cast(length(v.Text) as double) END"""


def values_sql(mentions: str) -> str:
    """SQL: E7-E9 value array of one field's mentions (elements with Text,
    Confidence, ixe): Text, n_detections, ix_first, ix_last,
    value_conf_raw, value_conf."""
    starts = ("filter(transform(ds, (d, i) -> i), i -> CASE WHEN i = 0 "
              "THEN true ELSE ds[i].t <> ds[i - 1].t END)")
    # group k spans ds[g, e)
    value = let(
        "CASE WHEN k + 1 < size(gs) THEN gs[k + 1] ELSE size(ds) END", "e",
        let("slice(ds, g + 1, e - g)", "grp", """named_struct(
          'Text', ds[g].t, 'n_detections', cast(e - g as bigint),
          'ix_first', ds[g].ix, 'ix_last', ds[e - 1].ix,
          'value_conf_raw', CASE
              WHEN array_max(transform(grp, x -> x.c)) >= 1.0D THEN 1.0D
              ELSE 1.0D - exp(aggregate(grp, 0.0D,
                                          (a, x) -> a + log1p(-x.c))) END)"""))
    norm = ("transform(raw, v -> named_struct('Text', v.Text, "
            "'n_detections', v.n_detections, 'ix_first', v.ix_first, "
            "'ix_last', v.ix_last, 'value_conf_raw', v.value_conf_raw, "
            "'value_conf', v.value_conf_raw / tot))")
    return let(
        f"array_sort(transform({mentions}, m -> named_struct("
        "'t', m.Text, 'ix', m.ixe, 'c', m.Confidence)))", "ds",
        let(starts, "gs", let(
            f"transform(gs, (g, k) -> {value})", "raw",
            let("greatest(1.0D, aggregate(raw, 0.0D, "
                "(a, v) -> a + v.value_conf_raw))", "tot", norm))))


def fields_sql(mentions: str, fields: list[dict]) -> str:
    """SQL: E7-E11 field array of one document's mentions (elements with
    ClassId, Text, Confidence, ixe), one element per active field in
    ``fields`` order: ClassId, FieldName, SortOrder, Optional,
    NumDetections, NumDetectedValues, Value, Values, Confidence."""
    win = ("array_min(transform(vs, v -> named_struct("
           f"'k', coalesce({_SELECTOR_KEY}, 0.0D), 'i', v.ix_first, "
           "'t', v.Text, 'c', v.value_conf)))")
    values_list = (
        "CASE WHEN size(vs) > 0 THEN transform(array_sort(transform(vs, "
        "v -> named_struct('nc', -v.value_conf, 'ix', v.ix_first, "
        "'v', v.Text, 'c', v.value_conf))), "
        "s -> named_struct('Value', s.v, 'Confidence', s.c)) END")
    field = let(win, "win", f"""named_struct(
      'ClassId', f.ClassId, 'FieldName', f.Name, 'SortOrder', f.SortOrder,
      'Optional', f.Optional,
      'NumDetections', cast(size(fm) as bigint),
      'NumDetectedValues', cast(size(vs) as bigint),
      'Value', CASE WHEN f.Select IS NOT NULL THEN coalesce(win.t, '') END,
      'Values', {values_list},
      'Confidence', CASE
          WHEN f.Select IS NOT NULL THEN coalesce(win.c, 0.0D)
          WHEN size(vs) > 0 THEN
              aggregate(vs, 0.0D, (a, v) -> a + v.value_conf) / size(vs)
          ELSE 0.0D END)""")
    return let(mentions, "ms", (
        f"transform({config_sql(fields)}, f -> "
        + let("filter(ms, m -> m.ClassId = f.ClassId)", "fm",
              let(values_sql("fm"), "vs", field)) + ")"))


def doc_confidence_sql(fields: str) -> str:
    """SQL: E12 struct<Confidence, needs_human_review> of a field array
    (elements with Confidence, Optional). The flag is the ≥0.5 human-review
    gate (pipeline/__init__.py:292-300)."""
    return let(
        f"array_min(transform({fields}, f -> CASE WHEN NOT "
        "(f.Confidence = 0.0D AND coalesce(f.Optional, false)) "
        "THEN f.Confidence END))", "dc",
        "named_struct('Confidence', dc, "
        "'needs_human_review', NOT (dc >= 0.5) OR dc IS NULL)")


def value_consolidation(mentions: DataFrame) -> DataFrame:
    """E7-E9: mention relation → value relation (url, ClassId, Text grain).
    Mentions are nested per (url, ClassId) — one exchange."""
    per_field = mentions.groupBy("url", "ClassId").agg(F.collect_list(
        F.struct("Text", "Confidence", "ixe")).alias("ms"))
    return per_field.select("url", "ClassId", F.inline(F.expr(values_sql("ms"))))


def consolidate_fields(mentions: DataFrame, config_df: DataFrame,
                       urls: DataFrame) -> DataFrame:
    """E7-E13: mentions + config + doc universe → one row per (url, field).

    ``urls``: single-column DataFrame of all document urls (fields exist
    even for docs with zero mentions). The universe and the mentions are
    nested per url in one aggregation over their union — one exchange —
    and mentions of urls outside the universe are dropped.
    """
    m = F.struct(F.col("ClassId").cast("int").alias("ClassId"), "Text",
                 F.col("Confidence").cast("double").alias("Confidence"),
                 F.col("ixe").cast("int").alias("ixe"))
    tagged = urls.select("url", F.lit(None).cast(
        "struct<ClassId:int,Text:string,Confidence:double,ixe:int>").alias("m"),
        F.lit(True).alias("in_universe")).unionByName(
        mentions.select("url", m.alias("m"), F.lit(False).alias("in_universe")))
    docs = (tagged.groupBy("url")
            .agg(F.collect_list("m").alias("ms"),
                 F.bool_or("in_universe").alias("in_universe"))
            .filter("in_universe"))
    return docs.select(
        "url", F.inline(F.expr(fields_sql("ms", active_fields(config_df)))))


def doc_confidence(fields: DataFrame) -> DataFrame:
    """E12: doc confidence = min field confidence, excluding zero-confidence
    Optional fields (main.py:173-179), plus the human-review routing flag.
    Fields are nested per url — one exchange."""
    docs = fields.groupBy("url").agg(
        F.collect_list(F.struct("Confidence", "Optional")).alias("fs"))
    return docs.select("url", F.expr(doc_confidence_sql("fs")).alias("d")) \
        .select("url", "d.Confidence", "d.needs_human_review")
