"""Frontier-engine operators: ordering, seen-set, candidate pipeline,
politeness, analyzer aggregations, and the training-data operators
(exact dedup, connected components, sampling, chunking, dsir, bpe, pooling,
classifier, pii) not yet cut."""
