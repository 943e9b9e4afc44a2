"""Text assembly + relational views over the doc-grain word relation.

Assembly rule (the byte-identical contract): words joined ``" "`` within a
line, lines joined ``"\\n"`` — ``fn-postprocess/util/extract.py:55-60``
applied document-wide (SURVEY.md §2.8 E2).

Implemented as higher-order array functions over the nested pages column:
each word becomes its text prefixed by ``" "`` or ``"\\n"`` (chosen by
comparing its line_id with the previous word's, by index) and one
``array_join`` concatenates them, so cost is linear in the page's words. It
is a pure projection — **zero shuffle** — so the flagship extraction path
is scan → mapInArrow → project at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def doc_text_col(pages_col: str = "pages") -> Column:
    page_text = ("array_join(transform(pg.words, (w, i) -> CASE "
                 "WHEN i = 0 THEN w.text "
                 "WHEN w.line_id = pg.words[i - 1].line_id THEN concat(' ', w.text) "
                 "ELSE concat(chr(10), w.text) END), '')")
    return F.expr(
        f"array_join(transform(filter({pages_col}, pg -> size(pg.words) > 0), "
        f"pg -> {page_text}), chr(10))"
    )


def assemble_text(doc_words: DataFrame) -> DataFrame:
    """doc-grain word view → (url, n_pages, extracted_text)."""
    return doc_words.select(
        "url", "n_pages", doc_text_col("pages").alias("extracted_text")
    )


# ---------------------------------------------------------------------------
# Relational views (P1 word/line flatten, data/base.py:343-351 /
# inference.py:412-419). posexplode preserves order via the position column.
# ---------------------------------------------------------------------------
def pages_view(doc_words: DataFrame) -> DataFrame:
    """One row per (url, page)."""
    return doc_words.select(
        "url", F.explode("pages").alias("pg")
    ).select("url", F.col("pg.page_num").alias("page_num"),
             F.col("pg.words").alias("words"))


def words_view(doc_words: DataFrame) -> DataFrame:
    """One row per word, reading order recoverable from (page_num, word_pos)."""
    return (
        pages_view(doc_words)
        .select("url", "page_num",
                F.posexplode("words").alias("word_pos", "w"))
        .select(
            "url", "page_num", "word_pos",
            F.col("w.line_id").alias("line_id"),
            F.col("w.text").alias("text"),
            F.col("w.conf").alias("conf"),
            F.col("w.id").alias("word_id"),
            F.col("w.box").alias("box"),
        )
    )
