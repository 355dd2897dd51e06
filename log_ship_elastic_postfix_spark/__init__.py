"""log_ship_elastic_postfix_spark — a brand-new PySpark-native
parse → enrich → route → aggregate log/telemetry pipeline.

Re-expresses the semantics of msimerson/log-ship-elastic-postfix
(BSD-2-Clause, Node.js) as an idiomatic Spark DataFrame program over
Common-Crawl-style web-page tables
``pages(url, warc_ts, html, text, lang)``:

- syslog envelope + per-program grok grammars → one Arrow-batched
  ``mapInArrow`` pass of RE2 kernels (``pyarrow.compute``)
- per-queue-id document assembly → ``repartition(qid).mapInPandas``:
  one ordered fold per queue id, a hot key included
- Redis/ES enrichment lookups → broadcast dimension joins
- per-index Elasticsearch routing → fan-out partitioned sinks
- bookmark file → lineage manifest + batch checkpoint table

Nothing here is a port: the reference is a single-threaded
row-at-a-time JS event loop; this is a declarative Catalyst plan.
"""

__version__ = "0.1.0"
