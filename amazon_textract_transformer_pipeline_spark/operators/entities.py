"""Entity-mention extraction E1-E6 (SURVEY §2.8) as a per-document expression.

Rebuilds ``fn-postprocess/util/extract.py:93-131``, which runs once per
document, as one SQL higher-order-function expression over that document's
reading-ordered word array (:func:`mentions_sql`). Nothing crosses a document
boundary, so on the doc-grain path (``plans.pipeline``) mentions are a
projection of the front-end row: no shuffle, no Python. Every step is
index-based (``transform``/``filter``/``slice`` over positions), so cost is
linear in the document's words; no fold grows an accumulator.

Faithful semantics, including the reference's quirks (verified against a
rule-for-rule Python oracle in tests/ref_rules.py):

* Runs are *consecutive same-class words in document order*, spanning line
  and even page boundaries (extract.py:101-129 keeps ``current_cls`` across
  the page loop). A run starts where a word's class differs from the
  previous word's.
* Unconfigured / ignored classes collapse to None ("other"), and consecutive
  None words form one run (extract.py:107-109).
* A run only becomes a detection when a *later word with a different class
  flushes it* — a run reaching the last word of the document is silently
  dropped (extract.py has no final flush after the loops).
* A detection's PageNum is the page of the **flushing** word (extract.py:123
  reads ``ixpage`` at flush time), not of the run's own words.
* Mention confidence = min over words of min(PredictedClassConfidence,
  word Confidence) — mixing the 0-1 softmax scale with Textract's 0-100
  scale exactly as the reference does (extract.py:46-54).
* Text = words joined " " per line, lines joined "\\n" (extract.py:55-60).
* ``run_id`` numbers the document's runs from 0 when it starts with an
  "other" run and from 1 otherwise; ``ixe`` is the detection's index among
  the document's detections of its class (main.py:91).

:func:`extract_mentions` is the word-grain entry point: it nests the word
relation by url (one exchange) and applies the same expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import active_fields, config_sql


def let(value: str, name: str, body: str) -> str:
    """SQL that evaluates ``value`` once per row and binds it to the lambda
    variable ``name`` inside ``body``. Reading a bound array by index inside
    a nested lambda is O(1); repeating the array's expression there would
    re-evaluate it per element."""
    return f"transform(array({value}), {name} -> {body})[0]"


# One detection from run r (j: run index, s: first word, e: the flushing
# word) over the bound words ws, their run classes cs and the run's words rw.
_BBOX = let(
    "named_struct("
    "'l', array_min(transform(rw, w -> w.box.left)), "
    "'t', array_min(transform(rw, w -> w.box.top)), "
    "'r', array_max(transform(rw, w -> w.box.left + w.box.width)), "
    "'b', array_max(transform(rw, w -> w.box.top + w.box.height)))",
    "bb",
    "named_struct('left', bb.l, 'top', bb.t, "
    "'width', bb.r - bb.l, 'height', bb.b - bb.t)")
_MENTION = let("slice(ws, r.s + 1, r.e - r.s)", "rw", f"""named_struct(
  'run_id', cast(r.j + CASE WHEN cs[0] IS NULL THEN 0 ELSE 1 END as bigint),
  'ClassId', cs[r.s],
  'Confidence', array_min(transform(rw,
      w -> least(coalesce(w.pcc, 1.0D), w.conf))),
  'Blocks', transform(rw, w -> w.word_id),
  'BoundingBox', {_BBOX},
  'PageNum', ws[r.e].page_num,
  'Text', array_join(transform(rw, (w, k) -> CASE
      WHEN k = 0 THEN w.text
      WHEN w.page_num = ws[r.s + k - 1].page_num
           AND w.line_id = ws[r.s + k - 1].line_id THEN concat(' ', w.text)
      ELSE concat(chr(10), w.text) END), ''))""")


def mentions_sql(words: str, fields: list[dict]) -> str:
    """SQL: one document's mention array (E1-E4), grouped by field in
    ``fields`` order and by document order within a field.

    ``words``: SQL for the reading-ordered word array; each element has
    page_num, line_id, text, conf, word_id, box, pred_cls, pcc.
    ``fields``: the active field rows (``config.active_fields``).
    """
    ids = ", ".join(str(f["ClassId"]) for f in fields)
    in_cfg = f"w.pred_cls IN ({ids})" if ids else "false"
    starts = ("filter(transform(cs, (c, i) -> i), i -> CASE WHEN i = 0 THEN true "
              "ELSE NOT (cs[i] <=> cs[i - 1]) END)")
    # non-trailing runs of a configured class; e = the run's flushing word
    runs = ("filter(transform(st, (s, j) -> named_struct('j', j, 's', s, "
            "'e', CASE WHEN j + 1 < size(st) THEN st[j + 1] END)), "
            "r -> r.e IS NOT NULL AND cs[r.s] IS NOT NULL)")
    by_field = (
        f"flatten(transform({config_sql(fields)}, f -> transform("
        "filter(ms, m -> m.ClassId = f.ClassId), (m, ixe) -> named_struct("
        "'run_id', m.run_id, 'ClassId', m.ClassId, 'ClassName', f.Name, "
        "'Confidence', m.Confidence, 'Blocks', m.Blocks, "
        "'BoundingBox', m.BoundingBox, 'PageNum', m.PageNum, 'Text', m.Text, "
        "'RawText', cast(NULL as string), 'ixe', ixe))))")
    return let(words, "ws", let(
        f"transform(ws, w -> CASE WHEN {in_cfg} THEN w.pred_cls END)", "cs",
        let(starts, "st", let(
            f"transform({runs}, r -> {_MENTION})", "ms", by_field))))


def extract_mentions(enriched_words: DataFrame, config_df: DataFrame) -> DataFrame:
    """E1-E4: enriched word relation → mention relation.

    ``enriched_words``: url, page_num, word_pos, line_id, text, conf,
    word_id, box, pred_cls, pcc (from enrich.stub_predictions or the real
    model). ``config_df``: FIELD_CONFIG_SCHEMA. The words are nested per url
    in (page_num, word_pos) order — one exchange — and
    :func:`mentions_sql` runs on each document.
    """
    docs = enriched_words.groupBy("url").agg(F.array_sort(F.collect_list(
        F.struct("page_num", "word_pos", "line_id", "text", "conf", "word_id",
                 "box", "pred_cls", "pcc"))).alias("words"))
    return docs.select(
        "url", F.inline(F.expr(mentions_sql("words", active_fields(config_df)))))


def normalize_mentions(mentions: DataFrame, config_df: DataFrame,
                       normalizer) -> DataFrame:
    """E5-E6 (util/normalize.py:26-91): dedup normalization inputs per
    (endpoint, prompt+text), call the normalizer once per distinct input, fan
    results back; first normalize preserves raw_text.

    ``normalizer``: fn(DataFrame[endpoint, input]) -> DataFrame[endpoint,
    input, output] — the seq2seq stage (operators/seq2seq.py provides the
    deterministic date-normalizer stub and the mapInPandas harness).
    """
    cfg = F.broadcast(
        config_df.filter(~F.coalesce("Ignore", F.lit(False)))
        .filter(F.col("NormalizerEndpoint").isNotNull())
        .select(
            F.col("ClassId").alias("cfg_cls"),
            "NormalizerEndpoint",
            "NormalizerPrompt",
        )
    )
    tagged = mentions.join(cfg, mentions["ClassId"] == F.col("cfg_cls"), "left")
    to_norm = tagged.filter(F.col("NormalizerEndpoint").isNotNull())
    # CSE the reference does by hand (normalize.py:42-58): Catalyst won't
    # dedupe UDF calls, keep the explicit distinct.
    requests = (
        to_norm.select(
            F.col("NormalizerEndpoint").alias("endpoint"),
            F.concat(F.col("NormalizerPrompt"), F.col("Text")).alias("input"),
        ).distinct()
    )
    results = normalizer(requests)  # endpoint, input, output
    # No broadcast hint: `results` has one row per *distinct* (endpoint,
    # prompt+text) across the whole corpus — its cardinality is
    # input-dependent and unbounded (fine for dates, huge for free-text
    # fields). Let AQE pick the build side from measured sizes, same
    # stance as dedup.py's verification joins.
    normed = (
        to_norm.join(
            results,
            (F.col("NormalizerEndpoint") == F.col("endpoint"))
            & (F.concat(F.col("NormalizerPrompt"), F.col("Text")) == F.col("input")),
            "left",
        )
        # E6: failures (null output) keep original text; raw_text set only
        # when a normalization applied
        .withColumn("RawText", F.when(F.col("output").isNotNull(), F.col("Text")))
        .withColumn("Text", F.coalesce("output", "Text"))
    )
    passthrough = tagged.filter(F.col("NormalizerEndpoint").isNull())
    keep = mentions.columns
    return normed.select(*keep).unionByName(passthrough.select(*keep))
