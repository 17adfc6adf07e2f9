"""siteone_crawler_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch reimplementation of the crawl semantics of
janreges/siteone-crawler (reference read-only at /root/reference) as idiomatic
Spark dataflow: each crawl wave is one DataFrame job over a table of
interleaved text+media documents (doc_id, spans), with all per-row logic in
Arrow-batched pandas UDFs, state checkpointed between waves, and
analyzer/exporter queries expressed as plain DataFrame aggregations.

Package layout:
  functions/   vectorized scalar kernels (URL canonicalize, robots match,
               cache headers, extra columns) and the text kernels not yet
               cut (functions/text.py)
  sources/     docs/seed readers + the checkpointed table contract
  operators/   frontier ordering, seen-set anti-join, SiteOne analyzers
               and reports, plus the training-data operators not yet cut
               (components, sampling, chunking, dsir, bpe, classifier, pii)
  plans/       explain/inspection helpers
  streaming/   wave-as-microbatch driver helpers
  engine.py    the iterative wave driver with checkpoint/resume
  generator.py deterministic synthetic site-graph generator
  simulator.py reference-faithful workers=1 BFS simulator (golden fixtures)
"""

__version__ = "0.1.0"
