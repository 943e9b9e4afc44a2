"""Field/entity configuration (util/config.py:31-95, SURVEY §1.5).

The reference's FieldConfiguration dataclass becomes a small DataFrame;
``SortOrder`` is the position among non-ignored entries (main.py:85,122).
The doc-grain extraction reads the non-ignored rows on the driver and
inlines them into its expression as a SQL literal (:func:`config_sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import FIELD_CONFIG_SCHEMA

SELECTORS = ("confidence", "first", "last", "longest", "shortest")


def field_config_rows(cfgs: list[dict]) -> list[dict]:
    """Normalize config dicts (PascalCase, like the reference JSON) and stamp
    SortOrder by position among non-ignored entries."""
    rows, ix = [], 0
    for c in cfgs:
        sel = c.get("Select")
        if sel is not None:
            sel = sel.lower()
            if sel not in SELECTORS:
                raise ValueError(f"Unknown selector {sel!r}; known: {SELECTORS}")
        ignore = bool(c.get("Ignore", False))
        ne, np_ = c.get("NormalizerEndpoint"), c.get("NormalizerPrompt")
        if bool(ne) ^ bool(np_):
            raise ValueError(
                "NormalizerEndpoint and NormalizerPrompt must be set together "
                f"(field {c['Name']!r})")  # util/config.py:90-95
        rows.append(
            {
                "ClassId": int(c["ClassId"]),
                "Name": c["Name"],
                "Ignore": ignore,
                "Optional": c.get("Optional"),
                "Select": sel,
                "SortOrder": -1 if ignore else ix,
                "NormalizerEndpoint": ne,
                "NormalizerPrompt": np_,
            }
        )
        if not ignore:
            ix += 1
    return rows


def field_config_df(spark: SparkSession, cfgs: list[dict]) -> DataFrame:
    return spark.createDataFrame(field_config_rows(cfgs), FIELD_CONFIG_SCHEMA)


#: Most non-ignored fields a config may have: the doc-grain extraction
#: inlines the config into its expression as a literal.
MAX_FIELDS = 1000

_FIELD_SQL_TYPES = {"ClassId": "int", "Name": "string", "Optional": "boolean",
                    "Select": "string", "SortOrder": "int"}


def active_fields(config_df: DataFrame) -> list[dict]:
    """The non-ignored rows of a FIELD_CONFIG_SCHEMA DataFrame, in SortOrder
    order. Collected to the driver, bounded by :data:`MAX_FIELDS`."""
    rows = (config_df.filter(~F.coalesce("Ignore", F.lit(False)))
            .limit(MAX_FIELDS + 1).collect())
    if len(rows) > MAX_FIELDS:
        raise ValueError(f"field config has more than {MAX_FIELDS} fields")
    return sorted((r.asDict() for r in rows), key=lambda r: r["SortOrder"])


def _sql_lit(v, sql_type: str) -> str:
    if v is None:
        return f"cast(NULL as {sql_type})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def config_sql(fields: list[dict]) -> str:
    """Typed SQL array literal of active field rows (ClassId, Name,
    Optional, Select, SortOrder), in the given order."""
    items = ", ".join(
        "named_struct(" + ", ".join(f"'{k}', {_sql_lit(f[k], t)}"
                                    for k, t in _FIELD_SQL_TYPES.items()) + ")"
        for f in fields)
    struct = ",".join(f"{k}:{t}" for k, t in _FIELD_SQL_TYPES.items())
    return f"cast(array({items}) as array<struct<{struct}>>)"


#: Test/demo config exercising all five selectors, Ignore, Optional and
#: multi-value (FIXTURES.md §4; shape mirrors the 19-class demo at
#: pipeline/postprocessing/__init__.py:27-136). Class ids land inside the
#: stub model's 20-class space; 17-19 intentionally unconfigured ("other").
DEMO_CONFIG: list[dict] = [
    {"ClassId": 0, "Name": "Effective Date", "Optional": True, "Select": "first"},
    {"ClassId": 1, "Name": "APR Intro", "Optional": True, "Select": "confidence"},
    {"ClassId": 2, "Name": "Provider Name", "Select": "longest"},
    {"ClassId": 3, "Name": "Short Code", "Select": "shortest"},
    {"ClassId": 4, "Name": "Last Seen", "Select": "last"},
    {"ClassId": 5, "Name": "Card Name"},  # multi-value
    {"ClassId": 6, "Name": "Fee Other", "Ignore": True},
    {"ClassId": 7, "Name": "Min Payment", "Optional": True, "Select": "confidence"},
    {"ClassId": 8, "Name": "Address", "Select": "longest"},
    {"ClassId": 9, "Name": "Account Id", "Select": "confidence"},
    {"ClassId": 10, "Name": "Tags"},  # multi-value
    {"ClassId": 11, "Name": "Rare Optional", "Optional": True, "Select": "confidence"},
]
