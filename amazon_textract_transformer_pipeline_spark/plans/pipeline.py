"""End-to-end extraction pipeline assembly (SURVEY §3.1, Spark restatement).

The reference's S3→Lambda→SFn→SageMaker→Lambda hops collapse into one Spark
DAG: scan → front-end (mapInArrow, persisted: one row per document with its
pages and words) → per-document projections. Two model modes:

* ``model="sql-stub"`` — the portable pure-column classifier. Stub
  predictions, mentions (E1-E4), fields (E7-E11) and doc confidence (E12)
  are one higher-order-function expression over each document's row
  (``entities.mentions_sql``, ``consolidate.fields_sql`` and
  ``doc_confidence_sql``), so the plan is scan → front-end → projection
  with no exchange and no Python after the front-end. ``fields`` is an
  ``inline`` of the field-array expression; ``docs`` carries text, doc
  confidence and the review flag in one row per document.
* ``model="window-stub"`` (default) — the full window pipeline: tokenize +
  split + per-window forward + cross-window averaging, i.e. the exact
  physical shape the real transformer runs in. Its predictions are a word
  relation, so mentions, fields and doc confidence go through the
  word-grain entry points, which nest by url and apply the same
  expressions.

On the sql-stub path each input row is a document that extracts on its
own, even when two rows share a url; the word-grain entry points group by
url.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEMO_CONFIG, active_fields, field_config_df
from ..operators.assembly import assemble_text, doc_text_col, pages_view, words_view
from ..operators.consolidate import (
    consolidate_fields,
    doc_confidence,
    doc_confidence_sql,
    fields_sql,
)
from ..operators.enrich import stub_predictions, stub_words_sql
from ..operators.entities import extract_mentions, mentions_sql
from ..operators.frontend import html_to_words
from ..operators.inference import enrich_words_with_model
from ..operators.splitting import split_pages_to_windows
from .partitioning import salted_repartition_by_url, sort_by_cost_bucket


@dataclass
class ExtractionResult:
    doc_words: DataFrame
    extracted_text: DataFrame
    enriched_words: DataFrame
    mentions: DataFrame
    fields: DataFrame
    doc_confidences: DataFrame
    #: one row per document: url, n_pages, extracted_text, Confidence,
    #: needs_human_review
    docs: DataFrame

    def unpersist(self) -> None:
        """Release the persisted front-end output. Long-running callers
        (streaming micro-batches, lineage bucket loops) must call this after
        consuming the result or cached RDDs accumulate across batches."""
        self.doc_words.unpersist()


def extract_pipeline(
    pages: DataFrame,
    config: list[dict] | None = None,
    model: str = "window-stub",
    salt_partitions: int | None = None,
) -> ExtractionResult:
    spark = pages.sparkSession
    cfg = field_config_df(spark, config or DEMO_CONFIG)

    if salt_partitions:
        pages = salted_repartition_by_url(pages, salt_partitions)

    # the front-end UDF output feeds every result — persist it (the single
    # most expensive recompute)
    doc_words = html_to_words(pages).persist()
    text = assemble_text(doc_words)

    if model == "sql-stub":
        fields_cfg = active_fields(cfg)
        enriched = stub_predictions(words_view(doc_words))
        mentions_expr = mentions_sql(stub_words_sql("pages"), fields_cfg)
        fields_expr = fields_sql(mentions_expr, fields_cfg)
        # generators take the expression itself: inlining a projected
        # column would let the optimizer copy the whole expression into an
        # inferred non-empty-array filter and evaluate it again
        mentions = doc_words.select("url", F.inline(F.expr(mentions_expr)))
        fields = doc_words.select("url", F.inline(F.expr(fields_expr)))
        docs = doc_words.select(
            "url", "n_pages", doc_text_col("pages").alias("extracted_text"),
            F.expr(doc_confidence_sql(fields_expr)).alias("d"),
        ).select("url", "n_pages", "extracted_text", "d.Confidence",
                 "d.needs_human_review")
        doc_confs = docs.select("url", "Confidence", "needs_human_review")
    elif model == "window-stub":
        windows = sort_by_cost_bucket(
            split_pages_to_windows(pages_view(doc_words)))
        enriched = enrich_words_with_model(doc_words, windows)
        mentions = extract_mentions(enriched, cfg)
        # the url universe comes straight from the input scan
        # (column-pruned), NOT from the front-end
        fields = consolidate_fields(mentions, cfg, pages.select("url"))
        doc_confs = doc_confidence(fields)
        docs = text.join(doc_confs, "url", "left")
    else:
        raise ValueError(f"unknown model mode {model!r}")

    return ExtractionResult(
        doc_words=doc_words,
        extracted_text=text,
        enriched_words=enriched,
        mentions=mentions,
        fields=fields,
        doc_confidences=doc_confs,
        docs=docs,
    )


def extraction_stage_for_lineage(config: list[dict] | None = None):
    """stage_fn for LineageStore.run: pages(+bucket) → per-doc results with
    the bucket column propagated (text + doc confidence, one row per url).

    Returns the (DataFrame, cleanup) form of the stage protocol so the
    store unpersists the pipeline's cached front-end after each write —
    otherwise every resume/bucket run leaks one cached RDD."""
    def stage(bucketed_pages: DataFrame):
        res = extract_pipeline(bucketed_pages.drop("bucket"), config=config,
                               model="sql-stub")
        keys = bucketed_pages.select("url", "bucket")
        out = res.docs.join(keys, "url").select(
            "url", "bucket", "n_pages", "extracted_text",
            F.col("Confidence").alias("doc_confidence"), "needs_human_review")
        return out, res.unpersist
    return stage
