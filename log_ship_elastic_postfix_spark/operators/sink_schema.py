"""Typed sink schema — the index-map-template analog (S7).

The reference keeps every field a string in flight (test/logship.js:26-27
pins size === '813') and applies types only at the sink via the ES index
mapping (/root/reference/index-map-template.json:5-18, applied in
test/elasticsearch.js:66-92):

    date  → date        delay → float
    nrcpt → float       size  → double
    events.date → date

Here the same contract: the pipeline's in-flight docs are all-string
(merge-rule semantics depend on string equality), and this module is
the typed projection applied at the terminal write, so every downstream
consumer of the sink table gets real timestamps/numerics instead of
string-compare semantics.

All casts are Catalyst expressions (one narrow projection, zero
Python); unparseable values become NULL, matching ES's coercion
behavior on malformed input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .assemble import EVENT_FIELDS

# ISO-8601 with explicit offset, the pipeline's canonical date string
# (operators/parse.py formats "2024-07-26T04:18:34-07:00")
_ISO_OFFSET_FMT = "yyyy-MM-dd'T'HH:mm:ssXXX"

# index-map-template.json:5-18 → Spark types
SINK_FIELD_TYPES: dict[str, str] = {
    "date": "timestamp",
    "delay": "float",
    "nrcpt": "float",
    "size": "double",
}


def _typed(name: str, col: Column) -> Column:
    t = SINK_FIELD_TYPES.get(name)
    if t == "timestamp":
        return F.to_timestamp(col, _ISO_OFFSET_FMT)
    if t:
        return col.cast(t)
    return col


def apply_sink_types(docs: DataFrame) -> DataFrame:
    """All-string doc frame → sink-typed frame.

    Roots: date → timestamp, delay/nrcpt → float, size → double.
    Events: each event struct is rebuilt with its ``date`` member
    parsed to timestamp (template types events.date; the other typed
    roots are hoisted off events before this point by the merge rules,
    and delay inside error events stays string like the reference's
    dynamic mapping would keep it unless templated).
    """
    out = docs
    for name in SINK_FIELD_TYPES:
        if name in docs.columns:
            out = out.withColumn(name, _typed(name, F.col(f"`{name}`")))
    if "events" in docs.columns:
        out = out.withColumn(
            "events",
            F.transform(F.col("events"), lambda e: F.struct(
                *[(F.to_timestamp(e[f], _ISO_OFFSET_FMT) if f == "date"
                   else e[f]).alias(f) for f in EVENT_FIELDS])))
    return out
